"""Scoped materialization for mid-operator DataFrames.

Several operators build a frame that multiple downstream plan branches
consume (LSH bucket tables, shingle frames, var-length step scans). A
plain ``persist()`` gives materialize-once semantics but registers the
frame in Spark's CacheManager, where it lives until an explicit
``unpersist()`` — in a long-lived session, repeated operator calls
accumulate MEMORY_ONLY frames forever (the round-2 cache-hygiene defect).

``materialize`` uses an **eager localCheckpoint + stats reset** instead:

- the frame is computed exactly once, up front, so concurrent stages of
  the consuming job can never race an unmaterialized cache and recompute
  the subtree per branch (the failure mode the persist+count() idiom was
  guarding against);
- the blocks live in the block manager, NOT the CacheManager, and Spark's
  ContextCleaner frees them automatically as soon as the last reference
  to the checkpointed plan is garbage-collected — no caller-owned
  cleanup, nothing outlives the operator's result;
- the stats reset keeps Catalyst's sizeInBytes estimate from inheriting
  a join-multiplied origin plan (see ``_reset_stats``).

The reference solves the same recompute problem with cache *insertion*
(okapi-relational RelationalOptimizer.scala:35-93 InsertCachingOperators)
and leaves cache *eviction* to session lifetime; here eviction is tied to
operator scope instead, which is what a 1000-executor shared session
needs.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Size and width policy. Every gate that picks a plan from a MEASURED size
# reads these at call time (never as bound defaults), so one place sets
# the regime and tests can force the at-scale branches by patching them.

# per-round frames (deltas, frontiers, label maps) broadcast at or below
# this many rows
BROADCAST_ROW_LIMIT = 1_000_000
# a loop-invariant step side (var-length / shortest-path scans) is decided
# once per loop, so it may be twice as large
STATIC_BROADCAST_ROW_LIMIT = 2_000_000
# static_loop_frame: ~2M slim long-key rows per cached partition
STATIC_ROWS_PER_PARTITION = 2_000_000
# loop_width: ~25k rows per task for the per-round aggregations
LOOP_ROWS_PER_PARTITION = 25_000
# expands over rel frames whose Catalyst size estimate is at least this
# many bytes run the degree-skew sniff (plans/planner.py _auto_salt_factor)
SALT_SNIFF_MIN_BYTES = 64 << 20
# values of the constants above that put every gate on its at-scale branch
# on any input, for checking those branches on small data
# (tests/test_large_regime.py, tools/check_oracle.py --force-large-regime)
LARGE_REGIME = {
    "BROADCAST_ROW_LIMIT": 0,
    "STATIC_BROADCAST_ROW_LIMIT": 0,
    "STATIC_ROWS_PER_PARTITION": 1,
    "LOOP_ROWS_PER_PARTITION": 1,
    "SALT_SNIFF_MIN_BYTES": 0,
}


def parallelism(spark: SparkSession) -> int:
    """The session's configured shuffle width, the cap of every measured
    width in the package."""
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side data as a DataFrame that starts no Python worker.
    ``rows`` is a list of tuples or a ``pyarrow.Table`` (numpy columns go
    in without building Python tuples); ``schema`` is a DDL string
    (``"id long, d double"``) or a StructType, and every value takes its
    declared type.

    A list becomes a ``pyarrow.Table`` with the declared Arrow schema, and
    ``spark.createDataFrame(<pyarrow.Table>)`` writes its record batches
    to a temporary file that the JVM reads
    (``PythonSQLUtils.readArrowStreamFromFile``). Below
    ``spark.sql.execution.arrow.localRelationThreshold`` (256 KiB of
    batches, set by ``session._spark_tuning``; Spark's default is 48 MiB)
    the JVM decodes them once into a ``LocalRelation``, whose collect runs
    no Spark job; above it the frame is a ``LogicalRDD`` of the batches,
    one per partition, decoded by every action. Either way no
    ``PythonRDD`` sits in the lineage, so no action over the frame runs
    Python-worker code. A list given to ``createDataFrame`` instead goes
    through ``parallelize`` plus an identity ``map`` in Python workers
    (``_to_java_object_rdd``), a job that every later action over the
    frame repeats (~0.9 s of worker CPU per ``sssp`` call on a one-row
    seed, sf0.01, 4 vCPUs).

    The cost grows with the bytes, not with the plan. With two long
    columns, build plus one count took 0.3 s at 256 rows, 0.7-1.0 s at
    100 000 and 4.5-4.8 s at 1M as a ``LocalRelation``, and 0.6 s at 1M
    and 1.4-2.7 s at 4M as a ``LogicalRDD`` (local[4], 4 vCPUs), which is
    why the session keeps only small tables local; a literal array of
    casts took 0.9 s at 256 rows and 82 s at 20 000 (Catalyst analysing
    every literal). It is still a copy through
    the driver, so it is meant for seeds, lookup tables and label maps the
    driver already holds, not for bulk data."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema, strict=True)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, schema)


def _reset_stats(df: DataFrame) -> DataFrame:
    """Rewrap a materialized (checkpointed) DataFrame in a fresh LogicalRDD
    that does NOT inherit the origin plan's Catalyst statistics.

    ``localCheckpoint`` truncates lineage but copies the *stats estimate* of
    the plan it replaces into the new LogicalRDD. In an iterative loop whose
    body self-joins the checkpoint k times, the sizeInBytes estimate is
    *multiplied* k+1 times per round, so its bit-length grows as (k+1)^round —
    by round ~6 Catalyst's SizeInBytesOnlyStatsPlanVisitor is multiplying
    megabit BigIntegers and the driver spends minutes in stats estimation
    (measured: 0.9s -> 3.3s -> 52s per round). Rebuilding the DataFrame from
    the already-checkpointed InternalRow RDD resets the estimate to the
    session default and keeps every round's planning cost flat.

    Needs the classic (JVM-backed) DataFrame API: any failure raises
    instead of silently returning the frame with its inherited stats."""
    spark = df.sparkSession
    jdf = df._jdf
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, spark)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` once and return a lineage-truncated frame whose
    storage is released automatically when the result goes out of scope."""
    return _reset_stats(df.localCheckpoint())


def materialize_count(df: DataFrame):
    """``materialize`` + row count in ONE Spark job instead of two.

    Every frontier/fixpoint loop in this repo pairs a per-round checkpoint
    with a count probe (termination test + measured broadcast gate). An
    eager ``localCheckpoint`` already runs a full JVM-side ``RDD.count()``
    to materialize the blocks — it just discards the number, so callers
    paid a second (SQL) count job per round for a value Spark had already
    computed. Here the checkpoint is marked lazily and materialized by an
    explicit JVM-side count over the same internal RDD (no Python row
    traffic, no AQE re-planning), capturing the number the eager path
    throws away. Returns ``(frame, row_count)``."""
    ckpt = df.localCheckpoint(eager=False)
    # toRdd() is the lazily-checkpointed internal RDD's scan; counting it
    # computes + persists the checkpoint blocks (lineage truncates on first
    # computation) and is the same single job the eager path runs
    # internally.
    n = int(ckpt._jdf.queryExecution().toRdd().count())
    return _reset_stats(ckpt), n


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Lineage-truncating checkpoint whose blocks are computed by the
    FIRST downstream action instead of an eager count job of its own.

    For a frame that a loop materializes and then IMMEDIATELY consumes in
    the round's next materialization (CC's label map feeding the edge
    rewrite), the eager checkpoint pays a whole extra Spark action per
    round just to compute blocks the very next job would have computed
    anyway. The lazy form folds both into one action: the consumer's job
    computes the RDD, the checkpoint caches + truncates at that moment,
    and every later reference (the next round, the final composition)
    reads the cached blocks. Use ONLY where the first consuming action has
    a single evaluation path over the frame (e.g. a shared/reused
    broadcast build): concurrent first consumers of an unmaterialized
    lazy checkpoint would race to compute it (per-block locks make that
    a wait locally, but a cluster can compute a partition twice)."""
    return _reset_stats(df.localCheckpoint(eager=False))


def materialize_agg(df: DataFrame, *aggs):
    """``materialize`` + a scalar aggregate over the SAME single action.

    The pagerank-family loops need one scalar per round (the dangling-mass
    sum) in addition to the round's checkpoint. Computing it as a 1-row
    frame cost a separate aggregation job plus a broadcast build every
    iteration; here the lazy checkpoint is materialized BY the aggregate
    action itself (computing every partition of the checkpoint RDD caches
    its blocks and truncates lineage, exactly like materialize_count's
    RDD count), so the scalar comes out of the job the loop already pays.
    Returns ``(frame, first_row_of_agg)``."""
    ckpt = df.localCheckpoint(eager=False)
    row = ckpt.agg(*aggs).collect()[0]
    return _reset_stats(ckpt), row


def static_loop_frame(df: DataFrame, key: str, multiplier: int = 1):
    """Materialize a frame that an iterative loop equi-joins on ``key``
    every round, re-keyed into a scale-adaptive number of hash partitions.

    A checkpointed frame reports UnknownPartitioning, so Catalyst plans an
    Exchange (and a sort, for sort-merge) over the static side in every
    round (guide: operations keyed the same way should share one
    exchange). Fix: compute the frame once, then cache it hash-partitioned
    AND sorted on the join key — InMemoryRelation preserves
    outputPartitioning/outputOrdering (AQE leaves cached-plan partitioning
    alone by default), so EnsureRequirements drops the static-side
    exchange and sort in every round; only the small per-round state frame
    moves.

    The partition count is derived from the frame's measured row count
    (scale-adaptive: ``STATIC_ROWS_PER_PARTITION`` long-key rows per
    partition), capped at the session's configured shuffle parallelism —
    at bench scale a 150k-row
    graph collapses to one partition (removing per-round task fan-out,
    measured ~25% on pagerank), at cluster scale the cap keeps the
    configured width. ``multiplier`` (capped by callers) scales the width
    for loops whose per-round join OUTPUT is |sources| x frontier, where a
    single partition would serialize the expansion. An explicit partition
    count is required: without one the cached RepartitionByExpression is
    AQE-coalescible and the recorded partitioning would not match the
    physical layout.

    Returns (frame, rows, unpersist) — callers must arrange that the
    RETURNED plan of their operator does not reference the frame after
    calling unpersist() (per-round state is checkpointed, so in the
    frontier loops it never does)."""
    per = STATIC_ROWS_PER_PARTITION
    m, rows = materialize_count(df)
    cap = parallelism(df.sparkSession)
    parts = int(max(1, min(cap, (rows * max(1, multiplier) + per - 1) // per)))
    if parts >= cap:
        # big-data regime: the checkpoint is already the right shape and
        # an extra cached copy would double storage for no width change
        return m, rows, (lambda blocking=False: None)
    p = m.repartition(parts, key).sortWithinPartitions(key).persist()
    return p, rows, p.unpersist


def loop_width(df: DataFrame, rows: int) -> int:
    """Partition width for a loop's per-round aggregation, derived from a
    MEASURED row count (the loops' termination probes).

    AQE coalesces post-shuffle partitions by BYTES (64 MB advisory), but
    iterative loops' per-round frames are slim long-key rows doing CPU-heavy
    work — a 150k-row (src, end) frontier is ~3 MB, so AQE collapses every
    round's aggregation, anti-join and checkpoint into ONE task and the loop
    serializes (measured 0.6-0.9 s per round single-threaded at sf0.1). An
    explicit ``repartition(loop_width(df, n), *keys)`` before the round's
    aggregation pins ``LOOP_ROWS_PER_PARTITION`` rows per task instead;
    capped at the configured shuffle parallelism so big rounds at cluster
    scale keep the configured width."""
    per = LOOP_ROWS_PER_PARTITION
    return int(min(parallelism(df.sparkSession), max(1, (rows + per - 1) // per)))


def broadcastable(rows, loop_invariant: bool = False) -> bool:
    """Whether a frame of MEASURED size ``rows`` is small enough to
    broadcast: ``BROADCAST_ROW_LIMIT`` for per-round frames,
    ``STATIC_BROADCAST_ROW_LIMIT`` for a loop-invariant step side whose
    join strategy is decided once per loop."""
    limit = STATIC_BROADCAST_ROW_LIMIT if loop_invariant else BROADCAST_ROW_LIMIT
    return rows is not None and rows <= limit


def maybe_broadcast(df: DataFrame, rows, loop_invariant: bool = False):
    """Broadcast-hint a frame when its MEASURED row count is small (see
    ``broadcastable``). Checkpointed frames carry no usable stats, so
    Catalyst plans sort-merge joins whose per-round cost is a full merge
    scan of the static side; with the delta broadcast, the static side is
    probed in
    place — no exchange, no sort, parallel over its cached partitions.
    The gate is an actual count (the loops' termination probes), never an
    estimate, so an adversarial graph whose wave is O(V) falls back to the
    shuffle join instead of OOMing the driver — the same measured-size
    discipline AQE applies."""
    return F.broadcast(df) if broadcastable(rows, loop_invariant) else df
