"""Deterministic sampling / splitting / packing for training-data pipelines.

Every operator here is *hash-deterministic*: the decision for a row depends
only on a stable key (via md5, which exists with identical semantics in
Spark and DuckDB), never on partitioning, row order, or an RNG seed. That is
the property a 100 TB pipeline actually needs — re-running the job, adding
executors, or re-partitioning the input must not change which documents land
in the training split.

Scale design: splits and samples are narrow stateless projections (no
shuffle at all — the filter/assignment pushes down next to the scan);
stratified sampling and sequence packing each cost exactly one window
shuffle on their partition key. No Python UDFs.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from cypher_for_apache_spark_spark.materialize import local_frame

# hash space for split cutoffs: first 8 hex chars of md5 = 32 bits.
# Comparisons are done on the *hex string* (fixed width, lowercase), which
# orders identically to the integer value in every engine.
_HASH_BITS = 32
_HASH_CHARS = 8


def hash_key(col: Column) -> Column:
    """Stable 8-hex-char bucket key for a row: md5 of the stringified key.
    Lowercase hex compares lexicographically == numerically."""
    return F.substring(F.md5(col.cast("string")), 1, _HASH_CHARS)


def split_cutoffs(weights: Dict[str, float]) -> List[Tuple[str, str]]:
    """[(split_name, upper_cutoff_hex)] with cumulative cutoffs over the
    32-bit hash space; the last split absorbs rounding remainder."""
    total = float(sum(weights.values()))
    out: List[Tuple[str, str]] = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        out.append((name, format(round(acc * (1 << _HASH_BITS)), "08x")))
    out.append((names[-1], "g"))  # > 'f' sentinel: catches everything
    return out


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split (train/val/test...) by hashing a
    stable key — deterministic, partition-independent, re-run-stable.

    No shuffle: the assignment is a per-row expression; downstream writers
    can partition by the split column.
    """
    h = hash_key(F.col(key_col))
    cutoffs = split_cutoffs(weights)
    expr = F.when(h < F.lit(cutoffs[0][1]), F.lit(cutoffs[0][0]))
    for name, cut in cutoffs[1:-1]:
        expr = expr.when(h < F.lit(cut), F.lit(name))
    expr = expr.otherwise(F.lit(cutoffs[-1][0]))
    return df.withColumn(split_col, expr)


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose hash bucket falls
    below the cutoff. Unlike ``df.sample`` this is stable across runs,
    partitionings, and engines (the DuckDB oracle reproduces it exactly)."""
    cutoff = format(round(fraction * (1 << _HASH_BITS)), "08x")
    return df.filter(hash_key(F.col(key_col)) < F.lit(cutoff))


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Exactly ``k`` rows per group, chosen by hash order (deterministic
    reservoir): rank rows within each group by md5(key) and keep the first
    k. One window shuffle on the group key; ties are impossible because the
    full md5 of distinct keys differs."""
    w = W.partitionBy(group_col).orderBy(F.md5(F.col(key_col).cast("string")))
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    max_tokens: int,
    part_col: str,
    order_col: str,
    bin_col: str = "bin",
) -> DataFrame:
    """Greedy contiguous sequence packing: within each ``part_col`` shard,
    walk rows in ``order_col`` order and assign bin = floor(tokens-before /
    max_tokens). Deterministic, one window shuffle, and — unlike first-fit
    bin packing — embarrassingly parallel across shards, which is the only
    packing discipline that scales to 100 TB (global FFD is inherently
    sequential). A document may straddle a bin boundary; trainers that
    require hard boundaries truncate at read time.
    """
    w = (
        W.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn(
        bin_col, F.floor(before / F.lit(max_tokens)).cast("long")
    )


def rebalance_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: Dict[str, float],
) -> DataFrame:
    """Downsample groups so the surviving corpus matches a target mix
    (e.g. domain weights for a training run): find the largest total T
    with p_g * T <= n_g for every group, then hash-sample each group at
    fraction p_g * T / n_g. The binding group survives whole; everything
    else is thinned deterministically (same md5-bucket discipline as
    ``hash_sample`` — re-run- and partition-stable).

    Groups not named in ``weights`` are dropped. Plan shape: one count
    aggregation over the group column (map-side combinable), a broadcast
    of the |groups|-row fraction table, then a stateless per-row filter —
    the raw data is read once and never shuffles."""
    total = float(sum(weights.values()))
    wdf = local_frame(
        df.sparkSession,
        [(g, w / total) for g, w in weights.items()],
        f"{group_col} string, p double",
    )
    counts = df.groupBy(group_col).count()
    j = counts.join(wdf, group_col)
    t = j.select(F.min(F.col("count") / F.col("p")).alias("T"))
    # frac == 1 for the binding group: 'g' sentinel sorts after every hex
    # digit, keeping the whole group (mirrors split_cutoffs)
    frac = F.col("p") * F.col("T") / F.col("count")
    cut = F.when(frac >= 1, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex(F.floor(frac * F.lit(float(1 << 32)))), 8, "0"))
    )
    fractions = j.crossJoin(F.broadcast(t)).select(group_col, cut.alias("_cut"))
    return (
        df.join(F.broadcast(fractions), group_col)
        .filter(hash_key(F.col(key_col)) < F.col("_cut"))
        .drop("_cut")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    total: int = 1000,
) -> DataFrame:
    """Temperature-based source mixing (the multilingual-LLM sampling
    rule p_g ∝ n_g^alpha, alpha < 1 upweights small sources): pick a
    deterministic per-group quota t_g = min(n_g, w_g * total // Σw) with
    integer micro-weights w_g = floor(n_g^alpha * 1e6), then keep each
    group's first t_g rows in md5-of-key order. No upsampling — quotas
    cap at the group size.

    Deterministic and cross-engine exact for alpha = 0.5: sqrt is the one
    power IEEE-754 rounds correctly, so floor(sqrt(n) * 1e6) is the same
    integer in Spark, Python and DuckDB, and everything after it is pure
    integer arithmetic (the oracle replays it). Other alphas are
    driver-computed with Python pow (still re-run-stable, just not
    bit-promised against other engines).

    Plan shape: one count aggregation (map-side combinable) + a bounded
    |groups|-row collect (model fitting), a broadcast of the quota table,
    then ONE window shuffle on the group — the 100 TB shape. String group
    keys only (the quota table joins on the stringified group)."""
    import math

    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return df.filter(F.lit(False))
    if alpha == 0.5:
        wts = {g: int(math.floor(math.sqrt(float(n)) * 1e6)) for g, n in counts.items()}
    else:
        wts = {g: int(math.floor(float(n) ** alpha * 1e6)) for g, n in counts.items()}
    tw = sum(wts.values())
    quotas = [
        (str(g), min(counts[g], wts[g] * int(total) // tw)) for g in counts
    ]
    qdf = local_frame(df.sparkSession, quotas, "_tm_g string, _tm_quota long")
    w = W.partitionBy(group_col).orderBy(hash_key(F.col(key_col)), F.col(key_col))
    return (
        df.join(
            F.broadcast(qdf), F.col(group_col).cast("string") == F.col("_tm_g")
        )
        .withColumn("_tm_rn", F.row_number().over(w))
        .filter(F.col("_tm_rn") <= F.col("_tm_quota"))
        .drop("_tm_g", "_tm_quota", "_tm_rn")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_col: str = None,
) -> DataFrame:
    """Weighted sampling without replacement (k rows, inclusion odds
    proportional to ``weight_col``), deterministic: the A-ES exponential
    jump method with the randomness replaced by the md5 hash of the key.
    Each row gets u = (h+1)/2^32 in (0,1] and priority ln(u)/w; the k
    largest priorities win. Re-run-stable, partition-independent, and
    reproducible in any engine with md5 + ln.

    With ``group_col``, k rows per group (one window shuffle on the
    group); without, a global TakeOrdered top-k (no full sort)."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
        "double"
    )
    u = (h + F.lit(1.0)) / F.lit(float(1 << 32))
    priority = F.log(u) / F.col(weight_col)
    if group_col is None:
        return (
            df.withColumn("_pr", priority)
            .orderBy(F.col("_pr").desc(), F.col(key_col))
            .limit(k)
            .drop("_pr")
        )
    w = W.partitionBy(group_col).orderBy(priority.desc(), F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
