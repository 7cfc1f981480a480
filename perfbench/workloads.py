"""Seeded workload generator.

``cypher_interactive`` is a stream of parameterised Cypher reads over the
TPC-H graph. Each shape is one of the registry's non-iterative Cypher
entries with its literals lifted to ``$params``; every request draws fresh
parameter values from the workload seed, and the DuckDB oracle SQL of the
request is rendered with the same values. One shape in the set is
CONSTRUCT-then-query, so the graph-writing side of the API runs beside the
reads.

``graph_iterative`` and ``corpus_pipeline`` are fixed sets of registry
entries; the seed only permutes their order.

The same seed always yields a byte-identical stream (``stream_json``).
"""

from __future__ import annotations

import itertools
import json
import random
from collections.abc import Callable, Iterator
from dataclasses import dataclass

# three operator loops and the planner's shortestPath fixpoint: the four
# cheapest of the eight iterative registry entries. With all eight, one run
# (warm-up pass and timed pass) took 125 s on 4 vCPUs, about twice the
# per-run budget README.md sets out.
GRAPH_ITERATIVE = (
    "sssp_customer_parts",
    "k_core_tpch",
    "cc_order_chains",
    "shortest_path_orders",
)

CORPUS_PIPELINE = (
    "pipeline_e2e_docs",
    "dedup_minhash_portable",
    "cosine_dedup_embeddings",
    "knn_lsh_embeddings",
    "perplexity_buckets_docs",
    "bloom_decontaminate_docs",
    "bpe_encode_docs",
    "cm_freq_docs",
    "line_dedup_docs",
    "bm25_docs",
    "c4_filter_docs",
    "pii_scan_docs",
)

WORKLOADS = ("cypher_interactive", "graph_iterative", "corpus_pipeline")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]


@dataclass(frozen=True)
class Shape:
    name: str
    cypher: str
    sql: str
    draw: Callable[[random.Random], dict]
    # CONSTRUCT shapes: ``cypher`` returns a graph, ``then`` queries it
    then: str | None = None


@dataclass
class Request:
    shape: str
    cypher: str
    params: dict
    sql: str
    then: str | None = None


def sql_literal(v) -> str:
    """Render a parameter value as a DuckDB literal."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(sql_literal(x) for x in v) + ")"
    raise TypeError(f"unsupported parameter type {type(v).__name__}")


def _bal(rng: random.Random, lo: int = -500, hi: int = 9500) -> float:
    return float(rng.randrange(lo, hi, 50))


def _day(rng: random.Random) -> str:
    return f"{rng.randint(1996, 2000)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


SHAPES: tuple[Shape, ...] = (
    Shape(
        "scan_filter_project",
        """MATCH (c:Customer) WHERE c.acctbal > $min_bal
           RETURN c.name AS name, c.acctbal AS acctbal""",
        """SELECT c_name AS name, c_acctbal AS acctbal
           FROM customer WHERE c_acctbal > {min_bal}""",
        lambda r: {"min_bal": _bal(r, 5000, 9900)},
    ),
    Shape(
        "expand_group_count",
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation) WHERE c.mktsegment = $segment
           RETURN n.name AS nation, count(*) AS customers""",
        """SELECT n_name AS nation, count(*) AS customers
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_mktsegment = {segment} GROUP BY n_name""",
        lambda r: {"segment": r.choice(SEGMENTS)},
    ),
    Shape(
        "two_hop_region",
        """MATCH (c:Customer)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r:Region)
           WHERE c.acctbal > $min_bal
           RETURN r.name AS region, count(*) AS customers""",
        """SELECT r_name AS region, count(*) AS customers
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE c_acctbal > {min_bal} GROUP BY r_name""",
        lambda r: {"min_bal": _bal(r)},
    ),
    Shape(
        "optional_match_histogram",
        """MATCH (c:Customer) WHERE c.acctbal > $min_bal
           OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
           WITH c, count(o) AS n_orders
           RETURN n_orders, count(*) AS customers""",
        """SELECT n_orders, count(*) AS customers FROM (
             SELECT c_custkey, count(o_orderkey) AS n_orders
             FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             WHERE c_acctbal > {min_bal}
             GROUP BY c_custkey)
           GROUP BY n_orders""",
        lambda r: {"min_bal": _bal(r)},
    ),
    Shape(
        "exists_pattern",
        """MATCH (c:Customer)
           WHERE EXISTS { MATCH (c)-[:PLACED]->(o:Order) WHERE o.status = $status }
           RETURN count(*) AS customers_with_order""",
        """SELECT count(*) AS customers_with_order FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_orderstatus = {status})""",
        lambda r: {"status": r.choice(STATUSES)},
    ),
    Shape(
        "anti_pattern",
        """MATCH (s:Supplier)
           WHERE NOT EXISTS { MATCH (s)-[:SUPPLIES]->(p2:Part)
                              WHERE p2.brand = $brand AND p2.size > $size }
           RETURN s.name AS name""",
        """SELECT s_name AS name FROM supplier
           WHERE NOT EXISTS (
             SELECT 1 FROM lineitem JOIN part ON p_partkey = l_partkey
             WHERE l_suppkey = s_suppkey AND p_brand = {brand} AND p_size > {size})""",
        lambda r: {"brand": f"Brand#{r.randint(1, 25)}", "size": r.randint(30, 48)},
    ),
    Shape(
        "union_names",
        """MATCH (n:Nation) WHERE n.name <> $nation RETURN n.name AS name
           UNION MATCH (r:Region) RETURN r.name AS name""",
        """SELECT n_name AS name FROM nation WHERE n_name <> {nation}
           UNION SELECT r_name AS name FROM region""",
        lambda r: {"nation": f"NATION_{r.randint(0, 24)}"},
    ),
    Shape(
        "order_skip_limit",
        """MATCH (c:Customer) RETURN c.name AS name, c.acctbal AS acctbal
           ORDER BY acctbal DESC, name SKIP $skip LIMIT $limit""",
        """SELECT c_name AS name, c_acctbal AS acctbal FROM customer
           ORDER BY acctbal DESC, name LIMIT {limit} OFFSET {skip}""",
        lambda r: {"skip": r.randint(0, 1200), "limit": r.randint(5, 100)},
    ),
    Shape(
        "unwind_words",
        """MATCH (p:Part) WHERE p.size > $size
           UNWIND split(p.type, ' ') AS word
           RETURN word, count(*) AS c""",
        """SELECT word, count(*) AS c FROM (
             SELECT unnest(string_split(p_type, ' ')) AS word FROM part
             WHERE p_size > {size})
           GROUP BY word""",
        lambda r: {"size": r.randint(1, 45)},
    ),
    Shape(
        "case_buckets",
        """MATCH (c:Customer)
           RETURN CASE WHEN c.acctbal < $lo THEN 'low'
                       WHEN c.acctbal < $hi THEN 'mid'
                       ELSE 'high' END AS bucket, count(*) AS c""",
        """SELECT CASE WHEN c_acctbal < {lo} THEN 'low'
                       WHEN c_acctbal < {hi} THEN 'mid'
                       ELSE 'high' END AS bucket, count(*) AS c
           FROM customer GROUP BY 1""",
        lambda r: {"lo": _bal(r, -500, 4000), "hi": _bal(r, 4000, 9500)},
    ),
    Shape(
        "call_subquery_orders",
        """MATCH (c:Customer) WHERE c.acctbal > $min_bal
           CALL { WITH c MATCH (c)-[:PLACED]->(o:Order)
                  RETURN count(o) AS orders,
                         sum(toInteger(round(o.totalprice * 100))) AS cents }
           RETURN c.mktsegment AS segment, sum(orders) AS orders,
                  sum(cents) AS cents""",
        """SELECT c_mktsegment AS segment,
                  count(o_orderkey) AS orders,
                  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                       AS BIGINT) AS cents
           FROM customer LEFT JOIN orders ON o_custkey = c_custkey
           WHERE c_acctbal > {min_bal}
           GROUP BY 1""",
        lambda r: {"min_bal": _bal(r)},
    ),
    Shape(
        "ship_delay_days",
        """MATCH (o:Order)-[l:LINE]->(:Part) WHERE l.quantity > $qty
           RETURN duration.between(o.orderdate, l.shipdate).days AS delay_days,
                  count(*) AS n""",
        """SELECT CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS delay_days,
                  count(*) AS n
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_quantity > {qty} GROUP BY 1""",
        lambda r: {"qty": float(r.randint(1, 45))},
    ),
    Shape(
        "recent_orders_window",
        """MATCH (o:Order)
           WHERE o.orderdate >= localdatetime($day) - duration('P90D')
           RETURN count(*) AS n""",
        """SELECT count(*) AS n FROM orders
           WHERE o_orderdate >= CAST({day} AS TIMESTAMP) - INTERVAL 90 DAY""",
        lambda r: {"day": _day(r) + "T00:00:00"},
    ),
    Shape(
        "construct_big_orders",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE o.totalprice > $min_price
           CONSTRUCT
             CLONE c, o
             NEW (c)-[:BIG {price: o.totalprice}]->(o)
           RETURN GRAPH""",
        """SELECT c_name AS name, o_totalprice AS price, o_totalprice AS totalprice
           FROM customer JOIN orders ON o_custkey = c_custkey
           WHERE o_totalprice > {min_price}""",
        lambda r: {"min_price": float(r.randrange(250_000, 480_000, 1000))},
        then="""MATCH (c:Customer)-[b:BIG]->(o:Order)
                RETURN c.name AS name, b.price AS price, o.totalprice AS totalprice""",
    ),
)

def interactive_passes(seed: int) -> Iterator[list[Request]]:
    """Endless passes; each pass sends every shape once, in a seed-permuted
    order, with freshly drawn parameter values."""
    rng = random.Random(f"cypher_interactive:{seed}")
    while True:
        order = list(SHAPES)
        rng.shuffle(order)
        reqs = []
        for shape in order:
            params = shape.draw(rng)
            sql = shape.sql.format(**{k: sql_literal(v) for k, v in params.items()})
            reqs.append(Request(shape.name, shape.cypher, params, sql, shape.then))
        yield reqs


def fixed_order(workload: str, seed: int) -> list[str]:
    """The fixed entry set of ``workload`` in seed-permuted order."""
    names = list({"graph_iterative": GRAPH_ITERATIVE, "corpus_pipeline": CORPUS_PIPELINE}[workload])
    random.Random(f"{workload}:{seed}").shuffle(names)
    return names


def stream_json(workload: str, seed: int, n_passes: int = 3) -> str:
    """Canonical text of a workload's input stream (for determinism checks)."""
    if workload == "cypher_interactive":
        body = [
            {"shape": q.shape, "params": q.params, "sql": q.sql}
            for p in itertools.islice(interactive_passes(seed), n_passes) for q in p
        ]
    else:
        body = fixed_order(workload, seed)
    return json.dumps(body, sort_keys=True)
