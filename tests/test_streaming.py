"""Structured Streaming: bounded-stream == batch convergence + custom
stateful operator."""

from conftest import SF_CORRECTNESS, SF_SMOKE, assert_oracle_match

from map_reduce_library_spark.streaming.events import sessionize_stateful
from map_reduce_library_spark.tables import load_table


def test_streaming_hourly_window_oracle(spark):
    # A real readStream→writeStream run, checked against batch SQL.
    assert_oracle_match(spark, "streaming_hourly_window")


def test_sessionize_events_oracle(spark):
    assert_oracle_match(spark, "sessionize_events")


def test_session_window_native_oracle(spark):
    assert_oracle_match(spark, "session_window_native")


def test_session_window_matches_island_sessionization_counts(spark):
    """Native session_window and the lag+cumsum sessionization agree on
    the number of sessions per user up to the gap-boundary semantics
    (>= vs >); with no exact-gap ties in the corpus they are equal."""
    from pyspark.sql import functions as F

    from map_reduce_library_spark.queries import QUERIES as Q
    from conftest import SF_CORRECTNESS

    native = (
        Q["session_window_native"](spark, SF_CORRECTNESS)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    island = (
        Q["sessionize_events"](spark, SF_CORRECTNESS)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    joined = native.alias("a").join(island.alias("b"), "user_id")
    # sessions can only split (never merge) under the stricter boundary
    assert joined.where(F.col("a.n") < F.col("b.n")).count() == 0


def test_stateful_counts_match_batch(spark):
    got = {
        r.user_id: r.n_events
        for r in sessionize_stateful(spark, SF_SMOKE).collect()
    }
    want = {
        r.user_id: r.cnt
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert got == want


def test_streaming_session_window_oracle(spark):
    assert_oracle_match(spark, "streaming_session_window")


def test_streaming_session_window_rocksdb_state_store(spark):
    """Same streaming session aggregation under the RocksDB state
    store provider (off-heap state — the bounded-memory configuration
    for unbounded streams) must produce identical sessions."""
    from conftest import SF_CORRECTNESS, rows_multiset

    from map_reduce_library_spark.queries import QUERIES as Q

    key = "spark.sql.streaming.stateStore.providerClass"
    default = Q["streaming_session_window"](spark, SF_CORRECTNESS)
    want = rows_multiset(default.columns, [tuple(r) for r in default.collect()])
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = Q["streaming_session_window"](spark, SF_CORRECTNESS)
        got = rows_multiset(rocks.columns, [tuple(r) for r in rocks.collect()])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == want


def test_drain_shuffle_partitions_policy_and_restore(spark):
    """r15: bounded drains size their state-store count from source
    VOLUME (one partition per 512 KB of compressed input, capped at
    the session's shuffle parallelism), and run_to_memory must
    restore the session's shuffle.partitions afterwards — the scoped
    conf is the only way to size streaming state partitions, so a
    leak would silently re-plan every later batch query."""
    import math
    import os

    from map_reduce_library_spark.streaming.events import (
        _DRAIN_BYTES_PER_STATE_PARTITION,
        drain_shuffle_partitions,
        streaming_hourly_stats,
    )
    from map_reduce_library_spark.tables import table_path

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    n = drain_shuffle_partitions(spark, SF_CORRECTNESS)
    expected = max(
        1,
        min(
            int(before),
            math.ceil(
                os.path.getsize(table_path(SF_CORRECTNESS, "events"))
                / _DRAIN_BYTES_PER_STATE_PARTITION
            ),
        ),
    )
    assert n == expected
    # env override wins (production deployments size explicitly)
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "7"
    try:
        assert drain_shuffle_partitions(spark, SF_CORRECTNESS) == 7
    finally:
        del os.environ["SPARK_GRAFT_STREAM_SHUFFLE"]
    # the scoped conf must not leak out of the drain
    streaming_hourly_stats(spark, SF_CORRECTNESS)
    assert spark.conf.get(key) == before


def test_stream_schema_reprobed_after_events_rewrite(spark, tmp_path):
    """The stream schema probe is memoized per application, but an
    events.parquet rewritten in place with another ts layout (NANOS,
    read as int64, then MICROS) must be probed again: a stale schema
    would stream the new file with the old ts type."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from map_reduce_library_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
    )
    from map_reduce_library_spark.tables import table_path

    sf = str(tmp_path)

    def write_events(ts_micros, unit):
        scale = 1000 if unit == "ns" else 1
        n = len(ts_micros)
        table = pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([t * scale for t in ts_micros], pa.timestamp(unit)),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        })
        pq.write_table(table, table_path(sf, "events"))
        assert pq.ParquetFile(table_path(sf, "events")).schema_arrow.field(
            "ts"
        ).type == pa.timestamp(unit)

    def streamed_micros():
        stream = read_events_stream(spark, sf).select(
            "event_id", F.unix_micros("ts").alias("us")
        )
        rows = run_to_memory(stream, "schema_reprobe", "append").collect()
        return sorted((r.event_id, r.us) for r in rows)

    nanos_ts = [1_700_000_000_123_456, 1_700_000_060_000_001]
    write_events(nanos_ts, "ns")
    assert streamed_micros() == list(enumerate(nanos_ts))
    micros_ts = [1_700_000_100_000_002, 1_700_000_200_654_321, 1_700_000_300_000_000]
    write_events(micros_ts, "us")
    assert streamed_micros() == list(enumerate(micros_ts))
