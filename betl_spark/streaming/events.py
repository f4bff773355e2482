"""Structured Streaming surface over event streams.

The reference has no streaming at all (SURVEY.md §2.11) — this is the
engine's capability extension for the north-star events table, built on
the standard Structured Streaming shapes:

- file-source ``readStream`` over parquet event logs (the batch/stream
  duality: the same transformations run on ``spark.read`` input);
- tumbling / sliding window aggregations with event-time watermarks for
  late data;
- session windows (``session_window``);
- per-key running totals as a native streaming aggregate;
- custom stateful processing via ``applyInPandasWithState``.

Testing/verification model: streams are executed with
``trigger(availableNow=True)`` into a memory sink and the final table is
compared against the batch-equivalent aggregation — the contract query
``events_stream_tumbling`` does exactly that against the DuckDB oracle.

The testdata's physical type for ``events.ts`` has shifted across
driver rounds (TIMESTAMP(NANOS) read as long nanos through round 3,
TIMESTAMP(MICROS) read as timestamp_ntz since round 4), so
``event_stream`` reads the footer schema (``read_parquet``, no job) and
normalizes to one stable ``event_time`` TIMESTAMP clock at the source.
"""

from __future__ import annotations

import math
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from betl_spark.io.readers import read_parquet

#: the recentProgress list of the last availableNow run (one
#: StreamingQueryProgress per micro-batch; the final one is ``[-1]``) —
#: diagnostics only, a new list per run; None until a run.
LAST_RECENT_PROGRESS = None

# Fallback when the source path can't be probed (e.g. the directory is
# still empty when the stream starts) — matches the current testdata.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _event_time_col(ts_type: T.DataType):
    """Normalize any physical reading of ``ts`` to TIMESTAMP.

    Long input is epoch **nanos** (the nanosAsLong reading of
    TIMESTAMP(NANOS) parquet); timestamp/ntz input is used directly
    (session tz is UTC, so the NTZ cast is instant-preserving).
    """
    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        return F.col("ts").cast("timestamp")
    # integer DIV: float division loses precision on 19-digit nanos
    return F.timestamp_micros(F.expr("ts DIV 1000"))


def event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream with normalized event-time.

    ``path`` points at a parquet dir of events rows (new files appearing
    there are consumed incrementally) or a single parquet file (driven
    via its parent dir + glob — the file source requires a directory).
    Returns a streaming DataFrame with ``event_time`` TIMESTAMP,
    whatever physical type ``ts`` was written with.
    """
    import os

    # drift guard: makes TIMESTAMP(NANOS) parquet readable (as long
    # nanos); no effect on the current TIMESTAMP(MICROS) data
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = read_parquet(spark, path).schema
    except AnalysisException:  # a missing path or an empty directory
        schema = EVENT_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    return df.withColumn("event_time", _event_time_col(schema["ts"].dataType))


def tumbling_window_agg(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling event-time windows per event_type: count + exact sum.

    Watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped from the store — the knob that
    keeps a perpetual 100 TB/day stream's state finite.
    """
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
    )


def sliding_window_agg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    buckets (here 2)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within ``gap`` of the previous one."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            F.unix_timestamp(F.col("session_window.end")).alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals as Spark's native streaming aggregate:
    ``events_seen`` (long) and ``running_value`` (double) per
    ``user_id``, kept in the JVM state store (``StateStoreSave``) with
    no Python worker in the path. Run it in ``update`` mode: each
    micro-batch emits the users it touched with their totals so far.

    Both columns are cumulative across micro-batches. (An earlier
    ``applyInPandasWithState`` version reset ``events_seen`` to the
    batch's own row count while ``running_value`` accumulated; a single
    availableNow batch cannot tell the two apart.)

    The state holds one row per user ever seen and is never evicted.
    For bounded state on a perpetual stream use
    :func:`tumbling_window_agg`, whose watermark finalizes and drops
    old windows."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("events_seen"),
        F.sum("value").alias("running_value"),
    )


def _run_available_now(
    writer, spark: SparkSession, state_partitions: int | None
) -> None:
    """Drain every available input through ``writer`` in availableNow
    micro-batches and record the run's progress in
    ``LAST_RECENT_PROGRESS``.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for the
    lifetime of the query (the value is frozen into the query's state
    store layout at start) and restores it afterwards."""
    global LAST_RECENT_PROGRESS
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        LAST_RECENT_PROGRESS = list(q.recentProgress)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_table(
    stream_df: DataFrame,
    output_mode: str = "complete",
    table_prefix: str = "stream_out",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the result as a batch DataFrame.

    This is the test/verify harness AND the batch-parity bridge: the
    stream processes the same files a batch read would, so its final
    table must equal the batch aggregation.

    Stateful operators pay a per-partition state-store commit on every
    micro-batch, so ``state_partitions`` should track the cluster:
    O(cores) on a real cluster, small (e.g. 8) for local runs over
    modest data. Results are partition-count-invariant.
    """
    import os
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    name = f"{table_prefix}_{uuid.uuid4().hex[:8]}"
    # checkpoint + state store on tmpfs when available: the state commit
    # per micro-batch is fsync-bound on disk, pure memcpy on /dev/shm.
    # (A production stream checkpoints to durable storage by definition —
    # this helper is the batch-parity/test bridge, so volatile is right.)
    ckpt_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="betl_ckpt_", dir=ckpt_root)
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
        )
        _run_available_now(writer, spark, state_partitions)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def stream_dedupe(
    events: DataFrame, key_cols: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming deduplication via ``dropDuplicatesWithinWatermark``
    (Spark 3.5+): a key is emitted on first arrival, and any duplicate
    arriving within the watermark delay of that first event is dropped.

    Actual state-retention semantics (what the engine guarantees):

    - State for a key is evicted once the event-time watermark passes
      `first_seen_event_time + watermark`, so state is FINITE on a
      perpetual stream — bounded by (keys active within one watermark
      window), not by total distinct keys ever seen. This is the
      correct primitive here: plain ``dropDuplicates(keys)`` without
      the event-time column in the keys never evicts its state (Spark
      only cleans dedup state when the watermark column is part of the
      key set), which would grow without bound.
    - A duplicate arriving LATER than the watermark delay after its
      first occurrence may re-emit (state already evicted) — the
      standard bounded-memory trade-off, now true of the actual plan.
    - Input rows older than the current watermark are dropped by the
      operator without emitting; a key that only ever arrives late may
      therefore be absent versus a batch DISTINCT. With a watermark
      chosen ≥ the stream's event-time span (as the batch-parity
      contract query does), neither divergence can occur and the
      output is exactly the batch DISTINCT of the keys.

    Output is the key columns only: which non-key values the
    first-seen row carried is arrival-order dependent and has no place
    in a deterministic result. This is the streaming face of exact
    dedup: the same hash-keyed state sharding as the batch groupBy,
    maintained incrementally.
    """
    return (
        events.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(key_cols)
        .select(*key_cols)
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Execute a streaming DataFrame (availableNow) into a PARQUET sink
    with a durable checkpoint — the production shape: restart the same
    query with the same checkpoint and it resumes exactly where it
    stopped, reprocessing nothing (the file source + checkpoint give
    end-to-end exactly-once into the file sink).

    The memory-sink bridge (``run_stream_to_table``) is for tests and
    batch-parity checks; this is what a deployed pipeline calls. Note
    the file sink supports append mode only — aggregations need a
    watermark so windows finalize and append.
    """
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode(output_mode)
    )
    _run_available_now(writer, stream_df.sparkSession, state_partitions)


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: list[str],
    group_col: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-static join enrichment: join the event stream to a static
    dimension, then aggregate per (window, dim attribute).

    The stream-static inner join is STATELESS — each micro-batch joins
    against the (broadcast) static side with no state store, so a
    perpetual stream pays only the windowed agg's state. The static
    side is re-resolvable per batch (a dim update is picked up on the
    next micro-batch) — the streaming analogue of the SK-lookup join in
    the fact-load path (betl/defaultdataflows/stageLoad.py:361-409).
    """
    enriched = events.join(F.broadcast(dim), on)
    return (
        enriched.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            group_col,
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
    )


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    within: str = "30 minutes",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Stream-STREAM inner join with an event-time bound: a left event
    matches right events with the same key whose event_time falls in
    ``[left.event_time, left.event_time + within]`` — attribution joins
    (click → purchase within the window) as a continuous query.

    Both inputs must be ``event_stream``-shaped (an ``event_time``
    TIMESTAMP column). Mechanics (the standard Spark stream-stream
    recipe): each side is watermarked by ``within`` so the join state
    the engine must buffer is bounded — a left row can stop waiting for
    matches once the right watermark passes its ``event_time + within``,
    and vice versa; the time-range predicate is what lets the state
    manager derive those eviction bounds. The join itself shuffles both
    streams on the key (hash-partitioned state store, same sharding as
    a batch shuffle join) — state per partition, scaling with keys
    active inside one window, not stream history.

    Output columns are prefixed (``l_event_id``, ``r_event_time``, …)
    because both sides carry the event schema.
    """
    lsel = left.withWatermark("event_time", within).select(
        *[F.col(c) for c in on],
        *[
            F.col(c).alias(f"{left_prefix}_{c}")
            for c in left.columns
            if c not in on
        ],
    )
    rsel = right.withWatermark("event_time", within).select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        *[
            F.col(c).alias(f"{right_prefix}_{c}")
            for c in right.columns
            if c not in on
        ],
    )
    lt, rt = f"{left_prefix}_event_time", f"{right_prefix}_event_time"
    # the time-range predicate lives IN the join condition — that is
    # what the state manager analyzes to derive per-side state eviction
    # bounds (a post-join filter would leave the join unbounded)
    cond = (F.col(rt) >= F.col(lt)) & (
        F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {within}")
    )
    for c in on:
        cond = (F.col(c) == F.col(f"__r_{c}")) & cond
    return lsel.join(rsel, cond, "inner").drop(*[f"__r_{c}" for c in on])


_ANOMALY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s_milli", T.LongType()),
        T.StructField("s2_milli2", T.LongType()),
    ]
)
_ANOMALY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ]
)


def stateful_anomaly_scores(
    events: DataFrame, min_rows: int = 20, z_thresh: float = 3.0
) -> DataFrame:
    """Online anomaly detection (``applyInPandasWithState``): each
    event is z-scored against its user's EXPANDING history — every
    event seen so far, across micro-batches — then folded into the
    state. The state is three integers (n, Σv, Σv²) in exact
    milli-units, so a perpetual stream's state never grows with volume
    and restarts resume bit-exactly from the store.

    Streaming-vs-batch determinism (the contract's parity bar): values
    are quantized to int64 millis (``rint`` — the data is 2dp, so a
    .5-milli tie cannot occur and banker's-vs-half-up is moot); sums
    accumulate as exact integers; z is computed in doubles from those
    exact integers with the SAME expression tree the SQL oracle uses
    ((v−s/n)/√((s2−s²/n)/(n−1)), s² via float — s can exceed the int64
    square bound — all IEEE-exact); events with fewer than ``min_rows``
    predecessors, or a zero-variance history, emit NULL z.

    Rows inside a micro-batch are processed in (event-time, event_id)
    order — Spark does NOT order rows within a group's batch, so the
    operator sorts each group's buffer; cross-batch order is the
    stream's natural file order (the batch-parity harness feeds one
    availableNow batch, making the order total).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ts_col = _event_time_col(events.schema["ts"].dataType)
    prepared = events.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(ts_col).alias("__t_us"),
    )

    def score(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, s, s2 = state.get if state.exists else (0, 0, 0)
        frames = [pdf for pdf in pdf_iter]
        pdf = pd.concat(frames, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["__t_us", "event_id"], kind="mergesort")
        v = pdf["value"].to_numpy(dtype=np.float64)
        milli = np.rint(v * 1000.0).astype(np.int64)
        # exact integer prefix sums of the PRECEDING rows (vectorized —
        # no per-row Python), seeded from the cross-batch state
        c1 = np.cumsum(milli)
        c2 = np.cumsum(milli * milli)
        n_b = n + np.arange(len(pdf), dtype=np.int64)
        s_b = s + np.concatenate(([0], c1[:-1]))
        s2_b = s2 + np.concatenate(([0], c2[:-1]))
        with np.errstate(divide="ignore", invalid="ignore"):
            nf = n_b.astype(np.float64)
            sf = s_b.astype(np.float64)
            var = (s2_b.astype(np.float64) - sf * sf / nf) / (nf - 1.0)
            zs = np.round(
                (milli.astype(np.float64) - sf / nf) / np.sqrt(var), 6
            )
        zs[(n_b < min_rows) | ~(var > 0.0)] = np.nan
        n = int(n_b[-1]) + 1 if len(pdf) else n
        s = int(c1[-1]) + s if len(pdf) else s
        s2 = int(c2[-1]) + s2 if len(pdf) else s2
        state.update((n, s, s2))
        out = pd.DataFrame(
            {
                "user_id": np.full(len(pdf), user_id, dtype=np.int64),
                "event_id": pdf["event_id"].to_numpy(dtype=np.int64),
                "value": v,
                "zscore": zs,
                "is_anomaly": pd.array(
                    [None if math.isnan(z) else bool(abs(z) > z_thresh) for z in zs],
                    dtype="boolean",
                ),
            }
        )
        out["zscore"] = out["zscore"].astype(object).where(~pd.isna(out["zscore"]), None)
        yield out

    return prepared.groupBy("user_id").applyInPandasWithState(
        score,
        outputStructType=_ANOMALY_OUT_SCHEMA,
        stateStructType=_ANOMALY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_KMV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hs", T.ArrayType(T.LongType())),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("gen", T.LongType()),
    ]
)
_KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("h", T.LongType()),
        T.StructField("gen", T.LongType()),
    ]
)


def stream_kmv_distinct(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Streaming bottom-k (KMV) distinct sketch per group
    (``applyInPandasWithState``): the state is the <= k distinct
    values with the smallest 48-bit hashes seen so far, updated per
    micro-batch by the same lossless bottom-k merge as the batch
    family (operators/sketches.py family 4) — so the FINAL state is
    bit-identical to a batch :func:`~betl_spark.operators.sketches.
    kmv_sketch` of the same rows however the stream was sliced into
    micro-batches (pinned by test with maxFilesPerTrigger=1 over a
    sharded copy). The 48-bit hash is computed JVM-side BEFORE the
    stateful operator (one expression, no Python in the per-row path);
    the Python state update touches only <= k + batch-distinct rows
    per group.

    Emits the current bottom-k per group per micro-batch with a
    ``gen`` sequence number (batches seen); consumers take the max-gen
    generation per group as the final sketch (one availableNow batch
    -> exactly one generation). Estimates follow from the sketch rows
    exactly as in the batch family.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from betl_spark.operators.sketches import kmv_hash

    prepared = events.select(
        F.col(key_col).cast("string").alias("group_key"),
        F.col(value_col).cast("string").alias("item"),
    ).where(F.col("item").isNotNull())
    prepared = prepared.withColumn("h", kmv_hash(F.col("item")))

    kk = int(k)

    def update(key, pdf_iter, state: GroupState):
        (group_key,) = key
        if state.exists:
            hs, items, gen = state.get
            cur = set(zip(hs, items))
        else:
            cur, gen = set(), 0
        for pdf in pdf_iter:
            cur.update(zip((int(x) for x in pdf["h"]), pdf["item"]))
        kept = sorted(cur)[:kk]
        gen = int(gen) + 1
        state.update(([h for h, _ in kept], [i for _, i in kept], gen))
        yield pd.DataFrame(
            {
                "group_key": [group_key] * len(kept),
                "item": [i for _, i in kept],
                "h": [h for h, _ in kept],
                "gen": [gen] * len(kept),
            }
        )

    return prepared.groupBy("group_key").applyInPandasWithState(
        update,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
