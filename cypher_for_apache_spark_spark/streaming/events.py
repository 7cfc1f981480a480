"""Structured Streaming operators over the events table shape.

Net-new versus the reference (batch-only, SURVEY.md §1.6): event-time
windowed rollups with watermarked late-data handling, streaming
sessionization via ``session_window``, and streaming dedup — the streaming
counterparts of operators/events.py and operators/dedup.py.

All helpers take a *streaming* DataFrame (``spark.readStream``) and return
a transformed streaming DataFrame; sinks are the caller's choice. For
tests, ``run_to_memory`` drives a file-backed stream to completion
synchronously with the memory sink.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet (nanos ts).

    The file streaming source requires a directory, so stream the sf dir
    with a glob filter selecting the events table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )


def windowed_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed aggregation (late data beyond the
    watermark is dropped; state is bounded — this is what makes the operator
    runnable forever at scale)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: the streaming counterpart of
    operators/events.sessionize (gap-based sessions with bounded state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event ids within the watermark horizon
    (dropDuplicatesWithinWatermark keeps state bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a (file-backed) stream to completion synchronously into an
    in-memory table — the test/verification harness."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def streaming_funnel(
    events: DataFrame,
    stages: tuple = ("view", "click", "purchase"),
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator: per-user ordered-funnel detection with
    ``applyInPandasWithState`` — emit one row per user the first time they
    complete ``stages`` in timestamp order. Nothing built-in expresses
    "sequence of event types, in order, per key" (the reference has no
    streaming at all — SURVEY.md §1.6).

    Scale/state design:
    - state per user is THREE scalars (stage index, ts of last matched
      stage, done flag) — state size is O(keys), independent of event
      volume;
    - each micro-batch's rows for one user arrive as pandas frames; they
      are sorted by event time before advancing the state machine, so the
      operator is exact when batches respect event-time ordering across
      batches (true for availableNow file replays and watermarked
      sources);
    - completed users keep a tombstone flag so re-deliveries never emit
      twice.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("completed_at", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("stage_idx", T.IntegerType()),
            T.StructField("last_ts", T.DoubleType()),  # epoch seconds
            T.StructField("done", T.BooleanType()),
        ]
    )
    stage_list = list(stages)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        idx, last_ts, done = state.get if state.exists else (0, None, False)
        completed_at = None
        for pdf in pdfs:
            if done:
                continue
            pdf = pdf.sort_values(ts_col)
            for etype, ts in zip(pdf["event_type"], pdf[ts_col]):
                if done or etype != stage_list[idx]:
                    continue
                epoch = ts.timestamp()
                if last_ts is not None and epoch < last_ts:
                    continue
                idx, last_ts = idx + 1, epoch
                if idx == len(stage_list):
                    done, completed_at = True, ts
        state.update((idx, last_ts, done))
        if completed_at is not None:
            yield pd.DataFrame(
                {"user_id": [key[0]], "completed_at": [completed_at]}
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def batch_funnel(
    events: DataFrame,
    stages: tuple = ("view", "click", "purchase"),
    ts_col: str = "ts",
) -> DataFrame:
    """Batch oracle for ``streaming_funnel``: iterated min-ts-after-prev
    per stage, pure DataFrame aggregations (no UDFs)."""
    cur = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == stages[0], F.col(ts_col))).alias("_t")
    ).where(F.col("_t").isNotNull())
    for stage in stages[1:]:
        nxt = events.select("user_id", "event_type", ts_col).join(
            cur, "user_id"
        ).where(
            (F.col("event_type") == stage) & (F.col(ts_col) >= F.col("_t"))
        ).groupBy("user_id").agg(F.min(ts_col).alias("_t"))
        cur = nxt
    return cur.select("user_id", F.col("_t").alias("completed_at"))


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a stream against a batch dimension
    table (the standard fact-stream x dim-table production shape).

    Spark plans this as a per-micro-batch join with NO streaming state —
    the dimension side is re-resolved each batch (so slowly-changing dims
    pick up updates), and a small dim broadcasts automatically under AQE.
    """
    return events.join(F.broadcast(dim), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    join_window: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Windowed stream-stream inner join with bounded state.

    Both sides are watermarked and the join predicate constrains the two
    event times to ``join_window`` — the combination lets Spark expire
    buffered rows once the watermark passes the window, so state is
    O(in-flight window), not O(stream history). Without BOTH the
    watermarks and the time-range predicate, a stream-stream join keeps
    every row forever.
    """
    l = left.withWatermark(ts_col, left_watermark).alias("l")
    r = right.withWatermark(ts_col, right_watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (
            F.col(f"r.{ts_col}")
            <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {join_window}")
        )
    )
    return l.join(r, cond, "inner")


def dedup_batch_against_store(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> None:
    """One idempotent micro-batch of the streaming dedup (the foreachBatch
    body of ``streaming_dedup_against_store``, module-level so retry
    semantics are unit-testable). Dedups ``batch_df`` against the
    persistent signature store, then writes survivors and their
    signatures into ``batch_id=<n>`` partition directories with
    OVERWRITE — an at-least-once retry of the same batch replaces its own
    partition instead of re-appending the same docs. The store read
    excludes the current batch's own partition, so a retry after a
    partial failure does not dedup the batch against its failed self
    (which would silently drop the whole batch)."""
    from cypher_for_apache_spark_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    try:
        # batch-id partition dirs (batch_id=N) are folded back into a
        # plain partition column by parquet partition discovery
        store = spark.read.parquet(store_path)
        if "batch_id" in store.columns:
            # partition-pruned: never see this batch's failed attempt
            store = store.filter(F.col("batch_id") != batch_id)
        store = store.select(id_col, "signature")
    except AnalysisException:
        # path-not-found / no files yet: genuinely the first batch.
        # Any OTHER failure (transient IO, corrupt footer, permission)
        # must PROPAGATE — treating it as an empty store would
        # silently admit every duplicate in the batch.
        store = minhash_signatures(batch_df.limit(0), text_col, id_col, num_hashes)
    survivors, _ = minhash_dedup_incremental(
        batch_df,
        store,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    # materialize survivors BEFORE appending their signatures so the
    # two writes see the same winner set
    survivors = survivors.localCheckpoint(eager=True)
    survivors.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
    minhash_signatures(survivors, text_col, id_col, num_hashes).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/batch_id={batch_id}")


def streaming_dedup_against_store(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    checkpoint: str = None,
):
    """Continuous near-dup filtering of a document stream against a
    PERSISTENT MinHash signature store: each micro-batch is deduped with
    ``minhash_dedup_incremental`` (drop docs matching the store or an
    earlier id in the batch), survivors land in ``out_path`` and their
    signatures in ``store_path`` (one batch_id=<n> partition per batch,
    overwritten on retry — idempotent under foreachBatch's at-least-once
    contract) — so duplicates are caught across batches, restarts, and
    even across separate batch/streaming writers sharing the store. This
    is the streaming face of the incremental operator: per-batch cost is
    O(batch) signatures + a band join against the store, never a corpus
    re-scan.

    Returns the StreamingQuery (caller awaits/stops it). foreachBatch is
    the right tool here — the dedup is a batch computation against an
    external table, not an aggregation Spark's state store can express.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch_against_store(
            batch_df,
            batch_id,
            store_path,
            out_path,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )

    writer = docs_stream.writeStream.foreachBatch(_process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def hll_register_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    value_col: str,
    group_cols,
    p: int = 8,
) -> None:
    """One idempotent micro-batch of the streaming distinct-count rollup:
    sketch the batch's portable-HLL registers (operators/sketches.py) and
    write them into an OVERWRITTEN ``batch_id=<n>`` partition of the
    register store. Registers merge by MAX, which is idempotent and
    associative — duplicate register rows from at-least-once delivery are
    absorbed by the read-time merge, and the store answers any
    coarser-grain rollup without rescanning the stream."""
    from cypher_for_apache_spark_spark.operators.sketches import (
        hll_portable_registers,
    )

    regs = hll_portable_registers(batch_df, value_col, group_cols, p=p)
    regs.write.mode("overwrite").parquet(f"{store_path}/batch_id={batch_id}")


def streaming_hll_rollup(
    stream: DataFrame,
    store_path: str,
    value_col: str = "user_id",
    group_cols=("event_type",),
    p: int = 8,
    checkpoint: str = None,
):
    """Continuous approximate-distinct rollup: each micro-batch appends
    its portable-HLL registers to a persistent store (one overwritten
    batch_id partition per batch — same idempotent layout as the
    streaming dedup store). ``read_hll_store`` merges the registers and
    yields the exact-integer sketch state / estimates at ANY grain —
    the streaming face of hll_portable_rollup: per-batch cost is
    O(batch), the store is O(groups x 2^p) after compaction, and no
    reprocessing ever touches historical events."""
    gcols = list(group_cols)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        hll_register_batch(batch_df, batch_id, store_path, value_col, gcols, p)

    writer = stream.writeStream.foreachBatch(_process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def read_hll_store(
    spark, store_path: str, group_cols=("event_type",), p: int = 8
) -> DataFrame:
    """Merged sketch state (group..., m, zeros, powersum) from a register
    store written by ``streaming_hll_rollup`` — MAX-merge across batches,
    then summarize; pass coarser ``group_cols`` for rolled-up grains."""
    from cypher_for_apache_spark_spark.operators.sketches import (
        hll_portable_merge,
        hll_portable_summary,
    )

    regs = spark.read.parquet(store_path).select(*group_cols, "bucket", "rho")
    return hll_portable_summary(
        hll_portable_merge(regs, list(group_cols)), list(group_cols), p=p
    )
