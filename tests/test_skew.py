"""salted_join must match the plain join exactly, on skewed data."""

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_spark_spark.operators.skew import hot_keys, salted_join


@pytest.fixture()
def skewed(spark):
    # key 0 holds 90% of rows
    return spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )


@pytest.fixture()
def dim(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("label")
    )


def _bag(df):
    return sorted(tuple(r) for r in df.collect())


def test_hot_keys_finds_heavy_hitter(skewed):
    hot = hot_keys(skewed, ["k"], min_count=1000).collect()
    assert hot and hot[0]["k"] == 0 and hot[0]["n"] == 9000


def test_salted_inner_join_matches_plain(skewed, dim):
    plain = skewed.join(dim, "k")
    salted = salted_join(skewed, dim, ["k"], factor=8)
    assert _bag(salted) == _bag(plain)


def test_salted_left_join_matches_plain(spark, skewed, dim):
    # keys missing from dim: payloads with k >= 100 never occur here, so
    # add unmatched keys to the probe side instead
    probe = skewed.union(
        spark.range(3).select((F.col("id") + 1000).alias("k"), F.col("id").alias("payload"))
    )
    plain = probe.join(dim, "k", "left")
    salted = salted_join(probe, dim, ["k"], factor=8, how="left")
    assert _bag(salted) == _bag(plain)


def test_salt_actually_spreads(skewed, dim):
    # internal check: with factor=8 the hot key's rows carry >1 salt value
    from cypher_for_apache_spark_spark.operators.skew import _SALT

    salted = skewed.withColumn(
        _SALT, F.pmod(F.xxhash64("k", "payload"), F.lit(8)).cast("int")
    )
    n_salts = (
        salted.filter(F.col("k") == 0).select(_SALT).distinct().count()
    )
    assert n_salts == 8


def test_unsupported_how_rejected(skewed, dim):
    with pytest.raises(ValueError):
        salted_join(skewed, dim, ["k"], how="full")


# Salted expands: the planner salts an expand when the rel frame's
# Catalyst size estimate reaches materialize.SALT_SNIFF_MIN_BYTES and the
# degree-skew sniff finds a dominant hub. The fixtures are parquet-backed
# because file scans report real sizes (in-memory frames report Catalyst's
# unknown-size sentinel and are never sniffed); the tests reach the salted
# and the unsalted plan by patching the gate.

_Q = ("MATCH (a:Person)-[r:FOLLOWS]->(b:Person) "
      "RETURN a.name AS a, id(r) AS r, b.name AS b")


def _parquet(spark, tmp_path, name, rows, schema):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def _hub_graph(spark, tmp_path, n=40, hub_edges=180, other_edges=20):
    """One hub node (0) owns ``hub_edges`` of the edges."""
    import random

    rng = random.Random(4)
    people = _parquet(spark, tmp_path, "people",
                      [(i, f"p{i}") for i in range(n)], "id long, name string")
    edges, rid = [], 0
    for _ in range(hub_edges):
        edges.append((rid, 0, rng.randrange(1, n))); rid += 1
    for _ in range(other_edges):
        edges.append((rid, rng.randrange(1, n), rng.randrange(1, n))); rid += 1
    rels = _parquet(spark, tmp_path, "rels", edges, "id long, src long, dst long")
    return people, rels


def _rows(res):
    return sorted(map(tuple, (d.values() for d in res.to_maps())))


def _plan(res):
    return res.df._jdf.queryExecution().executedPlan().toString()


def test_auto_salt_triggers_on_skewed_graph(spark, tmp_path, monkeypatch):
    """With the size gate at 0 a supernode graph gets the salted plan
    without the caller asking for it (the sniff's hot-share/min-hub
    thresholds are exercised for real), and its rows equal the unsalted
    plan's rows at the default gate."""
    from cypher_for_apache_spark_spark import materialize
    from cypher_for_apache_spark_spark.session import CypherSession

    people, rels = _hub_graph(spark, tmp_path)
    plain_g = CypherSession(spark).read_from({"Person": people}, {"FOLLOWS": rels})
    plain = plain_g.cypher(_Q)
    assert "salt#" not in _plan(plain)

    monkeypatch.setattr(materialize, "SALT_SNIFF_MIN_BYTES", 0)
    g = CypherSession(spark).read_from({"Person": people}, {"FOLLOWS": rels})
    res = g.cypher(_Q)
    # the expand's equi-join carries the salt column
    assert "salt#" in _plan(res)
    got = _rows(res)
    assert got == _rows(plain) and len(got) == 200
    # decision memoized per (graph, types, direction): later compiles
    # reuse the verdict
    assert g._expand_salt_memo[(frozenset({"FOLLOWS"}), "out")] > 1


def test_auto_salt_skips_uniform_graph(spark, tmp_path, monkeypatch):
    """Uniform degree distribution: the sniff runs (gate at 0) but must
    NOT salt — no hub holds the hot share."""
    from cypher_for_apache_spark_spark import materialize
    from cypher_for_apache_spark_spark.session import CypherSession

    monkeypatch.setattr(materialize, "SALT_SNIFF_MIN_BYTES", 0)
    people = _parquet(spark, tmp_path, "people",
                      [(i, f"p{i}") for i in range(100)], "id long, name string")
    rels = _parquet(spark, tmp_path, "rels",
                    [(i, i % 100, (i + 1) % 100) for i in range(400)],
                    "id long, src long, dst long")
    g = CypherSession(spark).read_from({"Person": people}, {"FOLLOWS": rels})
    res = g.cypher("MATCH (a:Person)-[r:FOLLOWS]->(b) RETURN id(r) AS r")
    assert "salt#" not in _plan(res)
    assert g._expand_salt_memo[(frozenset({"FOLLOWS"}), "out")] == 0
    assert res.df.count() == 400


def test_auto_salt_stats_gate_spares_small_graphs(spark, tmp_path):
    """Default gate (64 MiB): a graph far below it never pays the sniff
    job — the verdict is 0 although the graph has a hub."""
    from cypher_for_apache_spark_spark.session import CypherSession

    people, rels = _hub_graph(spark, tmp_path)
    g = CypherSession(spark).read_from({"Person": people}, {"FOLLOWS": rels})
    res = g.cypher("MATCH (a:Person)-[r:FOLLOWS]->(b) RETURN id(r) AS r")
    assert "salt#" not in _plan(res)  # hub exists, but the frame is far below the gate
    assert g._expand_salt_memo[(frozenset({"FOLLOWS"}), "out")] == 0
    assert res.df.count() == 200
