"""Structured Streaming capabilities (SURVEY.md 2.9, 7.2 step 8).

The reference has no streaming operators; its closest analogs are the
FastAPI background re-index tasks (``app/api/services/background_tasks.py``)
and the eventual-consistency window between a batch chunk append and the
index rebuild (``library.py:97-114``).  The Spark engine expresses both
properly:

* ``windowed_event_counts`` — watermarked tumbling-window aggregation
  over an event stream: the standard late-data-tolerant rollup a 100 TB
  ingest pipeline runs continuously.
* ``incremental_index_ingest`` — micro-batch chunk/vector ingest via
  ``foreachBatch``: each batch appends its rows AND its LSH signatures,
  so the index table lags the data by at most one micro-batch — the
  reference's "background rebuild" becomes an incremental append with a
  bounded staleness window instead of an O(n) rebuild (M10).

Both run identically under an availableNow trigger (``drain``) for
bounded backfills and under a continuous trigger in production.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from inmem_vector_db_spark.session import scratch_dir


def drain(writer: DataStreamWriter, checkpoint: str | None = None) -> None:
    """Start ``writer`` with an availableNow trigger and wait until it
    has processed everything its sources hold — the engine's one bounded
    stream run.  A caller's ``checkpoint`` is used as given and never
    touched, so a later drain resumes from it; without one the query
    checkpoints to a scratch directory that is deleted when it ends."""
    ckpt = checkpoint or scratch_dir("ckpt_")
    try:
        writer = writer.option("checkpointLocation", ckpt)
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sums per key with a watermark.

    Works on batch AND streaming DataFrames (the plan is identical; only
    the sink differs).  The watermark bounds state: windows older than
    max(event time) - watermark are finalized and evicted — late rows
    beyond it are dropped, the documented late-data policy.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "value_sum",
        )
    )


def sessionized_user_activity(
    events: DataFrame,
    gap: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into
    one session (``F.session_window`` — state merges overlapping OR
    abutting [t, t+gap) intervals, so a new session starts exactly when
    the time since the previous event EXCEEDS gap; equality still
    merges — pinned by the boundary test).  The dynamic-length window the
    fixed ``window()`` rollup can't express, and the canonical
    user-behavior segmentation job.  Works on batch and streaming
    DataFrames; the watermark finalizes sessions once no in-gap event
    can still arrive.  Output: (user_id, session_start, session_end,
    n_events, value_sum) with session_end = last event + gap."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def run_stream_to_memory(
    sdf: DataFrame, name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream (availableNow) into an in-memory table and
    return it as a DataFrame — used by tests and the driver demo to
    prove the streaming plan computes the same result as the batch plan.
    """
    qname = name or f"mem_{uuid.uuid4().hex[:8]}"
    drain(
        sdf.writeStream.format("memory").queryName(qname).outputMode(output_mode)
    )
    return sdf.sparkSession.table(qname)


def running_user_totals(
    events: DataFrame,
    timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-user event count + value sum, updated every micro-batch.

    This is the arbitrary-state API the engine reserves for semantics
    windows/aggregations can't express (per-key state machines, custom
    eviction).  State = one (count, total) pair per user_id; each
    micro-batch folds its rows into the state and emits the new totals
    for the users it touched.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, value_sum double"
    state_schema = "n bigint, total double"

    def fold(key, pdfs, state: GroupState):
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd  # local import: runs on workers

        # emit UNROUNDED: Python round() is banker's rounding while the
        # oracle's SQL round is half-away-from-zero — callers round
        # Spark-side (F.round) so rounding semantics match the oracle
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_sum": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static join: enrich each micro-batch of events with a
    static (or slowly-refreshed) dimension table.  Spark re-plans the
    static side per micro-batch, so a dimension REFRESH (overwrite the
    parquet) is picked up without restarting the stream — the streaming
    analog of the store's document-title enrichment (J5)."""
    return events.join(F.broadcast(dim), key, "left")


def enrich_stream_with_versioned_dimension(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Stream enrichment against a TIME-VERSIONED dimension (SCD2-style
    validity intervals): each event joins the dimension version that was
    valid AT EVENT TIME — ``key`` equality plus a half-open
    ``[valid_from, valid_to)`` residual — not whichever version happens
    to be current when the micro-batch runs.  This is the correctness
    gap of the plain stream-static join under dimension churn: a
    reprocessed or late event must see the dim as of ITS timestamp, or
    replays stop being deterministic.  The dimension (all versions)
    broadcasts per micro-batch, so the join stays map-side; version
    count per key is bounded by update frequency, the usual SCD2
    contract."""
    cond = (events[key] == dim[key]) & (
        events[ts_col] >= dim[from_col]
    ) & (events[ts_col] < dim[to_col])
    return events.join(F.broadcast(dim), cond, "left").drop(dim[key])


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 900,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase paired with
    every click by the same user in the preceding ``window_seconds``.

    The join state is bounded by the watermark + the time-range
    condition: Spark keeps only clicks newer than
    ``purchase watermark - window`` per key, so state size is
    O(keys x window x rate), not O(stream).  This is the streaming form
    of ``operators.temporal.range_join`` — same pair semantics, same
    oracle SQL, continuous execution.
    """
    c = clicks.select(
        "user_id", F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
        )
    )
    return c.join(p, cond, "inner").select(
        "user_id", "click_ts", "purchase_ts", "value"
    )


def incremental_index_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_path: str,
    build_index,
    checkpoint_dir: str | None = None,
) -> None:
    """Micro-batch file ingest -> incremental index append (foreachBatch).

    ``build_index(batch_df) -> DataFrame`` computes the per-batch index
    rows (e.g. ``RandomHyperplaneLSH.build_index``); each micro-batch
    appends its signatures so readers see an index at most one batch
    stale — replacing the reference's full ``rebuild_index`` per batch
    append (``library.py:113-114``) with O(batch) incremental work.

    Bounded run (drains everything currently in ``source_dir`` then
    stops); a caller's ``checkpoint_dir`` makes the next call resume
    after the files already ingested.  Swap the trigger for continuous
    operation.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        build_index(batch_df).write.mode("append").parquet(index_path)

    drain(stream.writeStream.foreachBatch(handle), checkpoint_dir)


def stream_exact_dedup(
    sdf: DataFrame,
    key_cols: list[str],
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication — the continuous form of
    ``operators.dedup.exact_dedup`` ("have I ingested this document
    hash before?"), the first stage of a streaming training-data
    pipeline.

    ``watermark=None``: ``dropDuplicates`` over the key projection —
    exact across the whole stream; state = one entry per distinct key,
    which is the right shape for bounded replays and for key spaces
    (content hashes) that fit state stores.  With ``watermark``:
    ``dropDuplicatesWithinWatermark`` — state is EVICTED once the
    watermark passes, so unbounded streams run in bounded state, at the
    cost of readmitting a duplicate that arrives later than the
    watermark delay (the standard at-scale tradeoff).
    """
    if watermark is not None:
        return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return sdf.select(*key_cols).dropDuplicates(key_cols)


def stream_kmv_distinct(
    sdf: DataFrame, col: str, k: int = 64
) -> list[int]:
    """Maintain a KMV distinct-count sketch over a stream: each
    micro-batch contributes its bottom-k hash set (computed
    distributively by ``functions.sketches.kmv_bottom_k``), merged into
    O(k) driver-held state — the streaming counterpart of the batch
    sketch, with state that never grows past k longs no matter how many
    events flow. Mergeability is the KMV property the batch tests pin;
    here it is what makes the operator a streaming one.

    Returns the final sorted bottom-k hash list; feed it to
    ``kmv_state_estimate`` for the estimate under the same expressions
    as the batch path. Drains with availableNow (bounded replay); on an
    unbounded stream the same handler runs per trigger indefinitely.
    """
    from inmem_vector_db_spark.functions.sketches import kmv_bottom_k

    state: set[int] = set()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_bk = kmv_bottom_k(batch_df, col, k).collect()
        merged = sorted(state | {r["hv"] for r in batch_bk})[:k]
        state.clear()
        state.update(merged)

    drain(sdf.writeStream.foreachBatch(handle))
    return sorted(state)


def kmv_state_estimate(
    spark: SparkSession, state: list[int], k: int
) -> DataFrame:
    """One-row (n_kept, estimate) from a bottom-k hash list, using the
    SAME Spark expressions as the batch ``kmv_estimate`` so streaming
    and batch agree bit-for-bit."""
    # literal_df (r14): the bottom-k state is a bounded driver list;
    # the parallelize-backed frame paid a Python-lane evaluation per
    # call (see functions/localframe.py)
    from inmem_vector_db_spark.functions.localframe import literal_df

    df = literal_df(spark, [(h,) for h in state], "hv LONG")
    return df.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(
            F.when(
                F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
            ).otherwise(
                F.lit(float(k - 1)) / (F.max("hv") / F.lit(float(1 << 60)))
            ),
            6,
        ).alias("estimate"),
    )


def stream_histogram(
    sdf: DataFrame,
    value_col: str = "value",
    bin_width: float = 5.0,
    n_bins: int = 20,
) -> dict[int, tuple[int, float]]:
    """Maintain an equi-width histogram over a stream: each micro-batch
    is reduced DISTRIBUTIVELY to its <= n_bins (bin, count, sum) rows,
    then merged into O(n_bins) driver state — the streaming profile
    shape (the batch form is ``plans.relational.value_histogram``).
    Counts and sums are exact; state never grows with the stream.

    Returns {bin: (count, value_sum)} after an availableNow drain; on an
    unbounded stream the same handler runs per trigger indefinitely.
    """
    state: dict[int, tuple[int, float]] = {}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bin_ = F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor(F.col(value_col) / bin_width)),
        )
        rows = (
            batch_df.select(bin_.cast("long").alias("bin"), F.col(value_col))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("s"))
            .collect()
        )
        for r in rows:
            n0, s0 = state.get(r["bin"], (0, 0.0))
            state[r["bin"]] = (n0 + r["n"], s0 + r["s"])

    drain(sdf.writeStream.foreachBatch(handle))
    return state
