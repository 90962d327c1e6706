"""Structured Streaming over the ``events`` table.

The reference is strictly batch (input fully materialized before the
job starts, MapReduceFramework.h:43-46); streaming is a north-star
extension (SURVEY.md §2D). Design:

- ``read_events_stream``: file-source ``readStream`` with an explicit
  schema (required for streaming reads). The events parquet stores
  TIMESTAMP(NANOS) → read as int64 and convert, same as the batch
  loader.
- ``streaming_hourly_stats``: watermarked tumbling-window aggregate.
  With ``availableNow`` the whole history is processed as a bounded
  stream — the result must equal the equivalent batch/SQL aggregate,
  which is exactly what the DuckDB oracle checks. At 100 TB this same
  topology runs unbounded with kafka sources; the watermark bounds
  state, and the window+key groupBy is the only shuffle.
- ``sessionize_stateful``: custom stateful operator via
  ``applyInPandasWithState`` (per-user event counting with explicit
  GroupState) — the generic "reduce with state across micro-batches"
  capability.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# State-partition sizing for bounded drains: the streaming engine pins
# its state-store count to spark.sql.shuffle.partitions AT QUERY START
# (it bypasses AQE coalescing — state layout must be stable across
# restarts), and every state partition pays a fixed provider-init +
# commit cost per micro-batch (~120-190 ms each measured at r14 even
# with checkpoint checksums off, contention-amplified: 32 partitions
# committed in 3.5-6 s summed vs 1.0-1.6 s for 8). So the partition
# count must follow STATE VOLUME, not core count. The knob was swept
# at sf0.1 (2 MB events source; session/dedup/hourly/static drains,
# min-of-3 each): 1 partition serializes the state WORK (session
# 2.28 s, dedup 3.48 s), 32 partitions pay 32 provider-init/commit
# fixed costs (session 2.53 s, dedup 2.73 s), and the knee is flat
# across 4-8 (session 1.35-1.37 s, dedup 1.88-1.89 s, hourly
# 0.88-0.92 s, static 0.76-0.79 s). One state partition per 512 KB
# of compressed source input lands on that knee and keeps scaling
# with volume: at 100 TB the rule asks for ~200 M partitions and the
# cap — the session's configured shuffle parallelism, which a
# cluster deployment sizes explicitly — binds instead, reproducing
# today's behavior; locally it stops a 200 k-row drain from paying
# 32 provider inits without strangling the per-key state work.
_DRAIN_BYTES_PER_STATE_PARTITION = 512 * 1024


def drain_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Volume-derived shuffle/state-partition count for a bounded
    availableNow drain of the events source. SPARK_GRAFT_STREAM_SHUFFLE
    overrides for deployments that size state partitions explicitly."""
    import math
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        try:
            n = int(env)
            if n > 0:
                return n
        except ValueError:
            pass
    from map_reduce_library_spark.session import shuffle_partitions
    from map_reduce_library_spark.tables import table_path

    cur = shuffle_partitions(spark)
    try:
        nbytes = os.path.getsize(table_path(sf_dir, "events"))
    except OSError:
        return cur
    return max(1, min(cur, math.ceil(nbytes / _DRAIN_BYTES_PER_STATE_PARTITION)))


def run_to_memory(
    df: DataFrame,
    prefix: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain a bounded stream (availableNow) through a uuid-named
    in-memory sink and return the MATERIALIZED result. ONE definition
    of the sink/trigger/await/read-back block that was copy-pasted
    seven times across the streaming family (code-review r6) — and
    the result is eagerly localCheckpoint'ed so the sink's temp view
    can be DROPPED: without the drop, every invocation (driver round,
    bench pass) left a uuid-named view holding its full result on the
    driver heap for the session lifetime.

    ``shuffle_partitions`` scopes spark.sql.shuffle.partitions to the
    stream's execution (set before start, restored after the drain):
    it is the ONLY way to size the engine's state-store count, which
    is pinned at query start and exempt from AQE coalescing. Callers
    pass ``drain_shuffle_partitions(...)`` — a volume-derived policy,
    not a core-count constant."""
    spark = df.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    conf_key = "spark.sql.shuffle.partitions"
    old_partitions = (
        spark.conf.get(conf_key) if shuffle_partitions is not None else None
    )
    if shuffle_partitions is not None:
        spark.conf.set(conf_key, str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_partitions is not None:
            spark.conf.set(conf_key, old_partitions)
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out


# (applicationId, abs sf_dir, events size, events mtime_ns) -> raw
# events footer schema. The same metadata-memoization contract as
# tables._TABLE_CACHE (guide §6 listing / §7.3 driver planning cost):
# the batch-read schema probe measured 77 ms of driver time per call
# warm, and every streaming query invocation pays it once — schema
# only, never data; keyed by applicationId so a restarted session
# re-probes, and by the file's size and mtime so an events.parquet
# rewritten in place (say NANOS -> MICROS ts) is probed again.
_STREAM_SCHEMA_CACHE: dict = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from map_reduce_library_spark.tables import (
        _ensure_nanos_conf,
        normalize_event_ts,
        table_path,
    )

    _ensure_nanos_conf(spark)
    # Streaming file sources require an explicit schema. The testdata
    # generator has shipped events.ts both as TIMESTAMP(NANOS) (read as
    # int64 under nanosAsLong) and as plain TIMESTAMP(MICROS), so probe
    # the actual footer with a batch read (one metadata-only read at
    # stream-construction time) instead of hardcoding either layout.
    events = table_path(sf_dir, "events")
    try:
        st = os.stat(events)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:  # missing: the probe below raises Spark's error
        stamp = None
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), stamp)
    batch_schema = _STREAM_SCHEMA_CACHE.get(key)
    if batch_schema is None:
        batch_schema = spark.read.parquet(events).schema
        _STREAM_SCHEMA_CACHE[key] = batch_schema
    # The file source wants a directory; select just events.parquet
    # out of the sf_dir with a glob filter. ts normalization is the
    # SAME helper the batch loader uses — batch/stream parity by
    # construction.
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw, batch_schema["ts"].dataType)


def streaming_hourly_stats(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed counts/sums over the event stream,
    processed with availableNow and returned as a finished DataFrame
    (complete output mode → every window present)."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    return run_to_memory(
        agg,
        "hourly_stats",
        "complete",
        shuffle_partitions=drain_shuffle_partitions(spark, sf_dir),
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each event_id's key in
    state only until the watermark passes it, so state size is
    O(events per watermark horizon), not O(all history) — the only
    dedup that survives an unbounded 100-TB stream.

    To make the dedup observable on duplicate-free testdata, the
    stream is unioned with a second read of itself (every row arrives
    exactly twice); the surviving rows must equal the original table.
    Append mode: first occurrence is emitted immediately, later
    duplicates are dropped against state."""
    s = read_events_stream(spark, sf_dir)  # probe the footer once
    doubled = s.unionAll(s)
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return run_to_memory(
        deduped,
        "dedup",
        "append",
        shuffle_partitions=drain_shuffle_partitions(spark, sf_dir),
    )


def stream_events_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: per-micro-batch batch-DataFrame callback —
    the escape hatch for sinks Structured Streaming lacks natively
    (JDBC upserts, multi-table writes...). Here each micro-batch is
    appended to a parquet directory; the checkpoint makes the whole
    pipeline restartable. foreachBatch delivery is AT-LEAST-ONCE, so
    each batch writes to its own batchId-keyed partition directory
    with overwrite — a retried batch replaces its own partial output
    instead of appending a duplicate copy (the old blind append was
    only at-least-once while the docstring claimed exactly-once;
    code-review r6). Readers of ``out_dir`` see partition column
    ``batch_id`` alongside the event columns."""
    stream = read_events_stream(spark, sf_dir)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def running_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas``
    (Spark 4's arbitrary-stateful-processing API): ValueState holding
    (count, value_sum) per user, updated across micro-batches. The
    successor to ``applyInPandasWithState`` — typed state handles,
    timers, and TTL — exercised here with the same per-key running
    aggregation so both APIs are covered by one batch-equivalence
    check.

    State is O(distinct users); the value sum is accumulated in
    integer micro-units (value × 1e6 rounded) so cross-batch float
    accumulation order cannot change the result.

    Runtime dependency: the transformWithState runner speaks protobuf
    to the JVM state server — environments without ``protobuf``
    installed crash at runner init (the test importorskips on it;
    ``applyInPandasWithState``/``sessionize_stateful`` is the
    dependency-free fallback covering the same capability)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n bigint, value_micros bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            st = self._state.get()
            n, micros = (0, 0) if st is None else st
            for pdf in rows:
                n += len(pdf)
                micros += int((pdf["value"] * 1_000_000).round().sum())
            self._state.update((n, micros))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_micros": [micros],
                }
            )

        def close(self) -> None:
            pass

    stream = read_events_stream(spark, sf_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, value_micros bigint",
        outputMode="update",
        timeMode="none",
    )
    drained = run_to_memory(
        out,
        "tws",
        "update",
        shuffle_partitions=drain_shuffle_partitions(spark, sf_dir),
    )
    # Last update per user wins across micro-batches. n_events is
    # monotone per user (each update only appends rows), so max of the
    # (n_events, value_micros) STRUCT selects the true latest update —
    # max-ing the columns independently returned a stale value_micros
    # whenever a later update LOWERED the total (negative values:
    # refunds/adjustments; code-review r6 finding).
    last = F.max(F.struct("n_events", "value_micros")).alias("last")
    return (
        drained
        .groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("last.n_events").alias("n_events"),
            F.col("last.value_micros").alias("value_micros"),
        )
    )


def sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event count via applyInPandasWithState — the
    generic custom-stateful-operator capability (state persists across
    micro-batches; here availableNow bounds the run)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def count_events(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = read_events_stream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Last update per user wins (a single availableNow pass may split
    # into several micro-batches).
    return (
        run_to_memory(
            counted,
            "sessionize",
            "update",
            shuffle_partitions=drain_shuffle_partitions(spark, sf_dir),
        )
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


def streaming_session_windows(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native ``session_window`` aggregation in STREAMING mode: the
    state store carries open sessions between micro-batches and merges
    windows as events arrive; gap-expired sessions stop growing.
    Complete output mode + availableNow bounds the run and emits every
    session, so the result equals the batch ``session_window_native``
    query exactly — the strongest possible batch/stream parity check.

    At scale the state is bounded by OPEN sessions only (append mode +
    watermark evicts closed ones); with the RocksDB state store
    provider the per-executor state spills off-heap instead of living
    on the JVM heap.
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            "user_id", F.session_window("ts", gap).alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        agg,
        "sessions",
        "complete",
        shuffle_partitions=drain_shuffle_partitions(spark, sf_dir),
    )
