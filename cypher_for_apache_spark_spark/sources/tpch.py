"""TPC-H-ish tables -> property graph mapping.

The relational->graph ingestion path (reference: SQL PGDS + Graph DDL,
morpheus-spark-cypher/.../io/sql/SqlPropertyGraphDataSource.scala,
documentation/asciidoc/backend-sql-graphddl.adoc): existing tables/views
become node/relationship tables with ids derived from key columns.

Id scheme: each entity class gets a disjoint long stride (the reference
keeps id spaces disjoint with byte prefixes, PrefixedGraph.scala; plain
long strides are cheaper to join and AQE-friendly). Strides of 2^40 leave
room for > 10^12 keys per class — safe far beyond 100 TB scale factors.

Graph shape over the driver's tables (TESTDATA.md):

  (:Region)<-[:IN_REGION]-(:Nation)<-[:IN_NATION]-(:Customer|:Supplier)
  (:Customer)-[:PLACED]->(:Order)-[:LINE {lineitem props}]->(:Part)
  (:Order)-[:NEXT]->(:Order)          next order of the same customer
  (:Supplier)-[:SUPPLIES]->(:Part)    distinct supplier/part pairs
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W
from pyspark.storagelevel import StorageLevel

from cypher_for_apache_spark_spark.graph import (
    NodeTable,
    PropertyGraph,
    RelationshipTable,
    TripletTable,
    build_triplet_frame,
)
from cypher_for_apache_spark_spark.materialize import parallelism

S = 1 << 40  # id stride per entity class

REGION, NATION, CUSTOMER, SUPPLIER, PART, ORDER = (i * S for i in range(6))
R_IN_REGION, R_IN_NATION, R_PLACED, R_LINE, R_NEXT, R_SUPPLIES = (
    (i + 6) * S for i in range(6)
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tpch_graph(
    spark: SparkSession, sf_dir: str, with_triplets=()
) -> PropertyGraph:
    """Load the TPC-H graph; ``with_triplets`` names relationship types to
    pre-join into recognized-pattern (triplet) tables, materialized once at
    load so a MATCH over them is a single scan with zero joins. At 100 TB
    these are written back to parquet instead of checkpointed — same
    amortization, durable."""
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    customer = _read(spark, sf_dir, "customer")
    supplier = _read(spark, sf_dir, "supplier")
    part = _read(spark, sf_dir, "part")
    orders = _read(spark, sf_dir, "orders")
    lineitem = _read(spark, sf_dir, "lineitem")

    nodes = [
        NodeTable.create(
            ["Region"],
            region.select(
                (F.col("r_regionkey").cast("long") + F.lit(REGION)).alias("id"),
                F.col("r_name").alias("name"),
            ),
        ),
        NodeTable.create(
            ["Nation"],
            nation.select(
                (F.col("n_nationkey").cast("long") + F.lit(NATION)).alias("id"),
                F.col("n_name").alias("name"),
            ),
        ),
        NodeTable.create(
            ["Customer"],
            customer.select(
                (F.col("c_custkey") + F.lit(CUSTOMER)).alias("id"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("acctbal"),
                F.col("c_mktsegment").alias("mktsegment"),
            ),
        ),
        NodeTable.create(
            ["Supplier"],
            supplier.select(
                (F.col("s_suppkey") + F.lit(SUPPLIER)).alias("id"),
                F.col("s_name").alias("name"),
                F.col("s_acctbal").alias("acctbal"),
            ),
        ),
        NodeTable.create(
            ["Part"],
            part.select(
                (F.col("p_partkey") + F.lit(PART)).alias("id"),
                F.col("p_name").alias("name"),
                F.col("p_brand").alias("brand"),
                F.col("p_type").alias("type"),
                F.col("p_size").cast("long").alias("size"),
                F.col("p_retailprice").alias("retailprice"),
            ),
        ),
        NodeTable.create(
            ["Order"],
            orders.select(
                (F.col("o_orderkey") + F.lit(ORDER)).alias("id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("totalprice"),
                F.col("o_orderdate").alias("orderdate"),
                F.col("o_orderpriority").alias("priority"),
            ),
        ),
    ]

    # IN_NATION has two element tables (customer-sourced and
    # supplier-sourced) with endpoint-label hints, so an expand from
    # (:Customer) never scans the supplier half — schema-aware scan pruning
    in_nation_cust = customer.select(
        (F.col("c_custkey") + F.lit(R_IN_NATION)).alias("id"),
        (F.col("c_custkey") + F.lit(CUSTOMER)).alias("src"),
        (F.col("c_nationkey").cast("long") + F.lit(NATION)).alias("dst"),
    )
    in_nation_supp = supplier.select(
        (F.col("s_suppkey") + F.lit(R_IN_NATION) + F.lit(S // 2)).alias("id"),
        (F.col("s_suppkey") + F.lit(SUPPLIER)).alias("src"),
        (F.col("s_nationkey").cast("long") + F.lit(NATION)).alias("dst"),
    )

    # NEXT: consecutive orders of the same customer by order date.
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # lead() avoids the self-join; one window shuffle total. NEXT and
    # SUPPLIES are *derived* tables every later query would otherwise
    # recompute, so they are cached once at load (columnar InMemoryTableScan
    # keeps pruning; at 100 TB this is a one-off write back to parquet — see
    # reference caching guidance,
    # documentation/asciidoc/caching-and-performance.adoc).
    # Both derived tables pin their build exchange at the configured
    # shuffle width: AQE coalesces these exchanges by BYTES, but the
    # window sort / dedup + columnar cache encode behind them are
    # CPU-bound per row, so a few-MB input serialized the whole build
    # into one task (measured 2x on the rebuild either way at sf0.1;
    # every cache-cleared rerun pays it).
    _width = parallelism(spark)
    nxt = (
        orders.repartition(_width, "o_custkey")
        .select(
            "o_orderkey",
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .where(F.col("next_orderkey").isNotNull())
        .select(
            (F.col("o_orderkey") + F.lit(R_NEXT)).alias("id"),
            (F.col("o_orderkey") + F.lit(ORDER)).alias("src"),
            (F.col("next_orderkey") + F.lit(ORDER)).alias("dst"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    supplies = (
        lineitem.select("l_suppkey", "l_partkey")
        .repartition(_width, "l_suppkey", "l_partkey")
        .dropDuplicates()
        .select(
            (F.col("l_suppkey") * F.lit(1 << 24) + F.col("l_partkey") + F.lit(R_SUPPLIES)).alias("id"),
            (F.col("l_suppkey") + F.lit(SUPPLIER)).alias("src"),
            (F.col("l_partkey") + F.lit(PART)).alias("dst"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    rels = [
        RelationshipTable.create(
            "IN_REGION",
            nation.select(
                (F.col("n_nationkey").cast("long") + F.lit(R_IN_REGION)).alias("id"),
                (F.col("n_nationkey").cast("long") + F.lit(NATION)).alias("src"),
                (F.col("n_regionkey").cast("long") + F.lit(REGION)).alias("dst"),
            ),
            src_labels=["Nation"],
            dst_labels=["Region"],
        ),
        RelationshipTable.create(
            "IN_NATION", in_nation_cust, src_labels=["Customer"], dst_labels=["Nation"]
        ),
        RelationshipTable.create(
            "IN_NATION", in_nation_supp, src_labels=["Supplier"], dst_labels=["Nation"]
        ),
        RelationshipTable.create(
            "PLACED",
            orders.select(
                (F.col("o_orderkey") + F.lit(R_PLACED)).alias("id"),
                (F.col("o_custkey") + F.lit(CUSTOMER)).alias("src"),
                (F.col("o_orderkey") + F.lit(ORDER)).alias("dst"),
            ),
            src_labels=["Customer"],
            dst_labels=["Order"],
        ),
        RelationshipTable.create(
            "LINE",
            lineitem.select(
                (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber") + F.lit(R_LINE)).alias("id"),
                (F.col("l_orderkey") + F.lit(ORDER)).alias("src"),
                (F.col("l_partkey") + F.lit(PART)).alias("dst"),
                F.col("l_suppkey").alias("suppkey"),
                F.col("l_linenumber").cast("long").alias("linenumber"),
                F.col("l_quantity").alias("quantity"),
                F.col("l_extendedprice").alias("extendedprice"),
                F.col("l_discount").alias("discount"),
                F.col("l_tax").alias("tax"),
                F.col("l_returnflag").alias("returnflag"),
                F.col("l_linestatus").alias("linestatus"),
                F.col("l_shipdate").alias("shipdate"),
            ),
            src_labels=["Order"],
            dst_labels=["Part"],
        ),
        RelationshipTable.create("NEXT", nxt, src_labels=["Order"], dst_labels=["Order"]),
        RelationshipTable.create(
            "SUPPLIES", supplies, src_labels=["Supplier"], dst_labels=["Part"]
        ),
    ]

    g = PropertyGraph(nodes, rels, name="tpch")
    want = set(with_triplets)
    for rt in g.all_rel_tables():
        if rt.rel_type in want:
            frame = build_triplet_frame(g, rt)
            if frame is not None:
                # columnar cache, NOT localCheckpoint: an ExistingRDD scan
                # reads every column as JVM row objects, destroying column
                # pruning + whole-stage codegen for every query over the
                # triplet (measured 5x on the sf1 IN_NATION joins);
                # InMemoryTableScan prunes columns and skips batches by
                # min/max stats. At 100 TB the triplet is written back to
                # parquet instead — same amortization, durable.
                g.add_triplet_table(
                    TripletTable.create(
                        rt.rel_type,
                        frame.persist(StorageLevel.MEMORY_AND_DISK),
                        rt.src_labels,
                        rt.dst_labels,
                    )
                )
    return g
