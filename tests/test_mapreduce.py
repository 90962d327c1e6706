"""Parity tests for the generic MapReduce layer — the five contract
points of SURVEY.md §2A (MapReduceClient.h:69,77-78,83;
MapReduceFramework.cpp:72-87,296-303)."""

from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[1]

from conftest import jobs_started_by
from map_reduce_library_spark.core import (
    JobState,
    Stage,
    map_reduce_df,
    run_map_reduce,
    start_map_reduce_job,
)


def words_map(_k, path_text):
    # flat-map: 0..n emits per input (contract point 1)
    for w in path_text.split(" "):
        yield (w, 1)


def sum_reduce(key, values):
    # holistic: all values in one call; single emit (contract point 2)
    yield (key, sum(values))


INPUT = [(None, "a b a"), (None, "b c"), (None, "")]
EXPECTED = {"a": 2, "b": 2, "c": 1, "": 1}


@pytest.mark.parametrize("key_mode", ["hash", "sort"])
def test_wordcount_both_key_modes(spark, key_mode):
    out = run_map_reduce(
        INPUT, words_map, sum_reduce, spark=spark, key_mode=key_mode
    ).collect()
    assert dict(out) == EXPECTED


def test_map_can_emit_zero_pairs_filter(spark):
    # contract point 1: emitting nothing == filter
    def only_long(_k, v):
        for w in v.split(" "):
            if len(w) > 3:
                yield (w, 1)

    out = run_map_reduce(INPUT, only_long, sum_reduce, spark=spark).collect()
    assert out == []


def test_reduce_is_holistic_median(spark):
    # contract point 2: non-associative reduce (median) is legal
    data = [(None, ("k1", x)) for x in [5, 1, 9, 3, 7]] + [
        (None, ("k2", x)) for x in [2, 4]
    ]

    def tag_map(_k, v):
        yield v

    def median_reduce(key, values):
        vs = sorted(values)
        yield (key, vs[len(vs) // 2])

    out = dict(run_map_reduce(data, tag_map, median_reduce, spark=spark).collect())
    assert out == {"k1": 5, "k2": 4}


def test_reduce_multi_emit_and_zero_emit(spark):
    # contract point 3: reduce may emit 0..n output pairs
    def expand_reduce(key, values):
        if key == "drop":
            return
        for i, _ in enumerate(values):
            yield (f"{key}#{i}", len(values))

    data = [(None, "x x drop y")]
    out = run_map_reduce(data, words_map, expand_reduce, spark=spark).collect()
    assert sorted(out) == [("x#0", 2), ("x#1", 2), ("y#0", 1)]


class OrderOnlyKey:
    """A key type with ONLY ordering (no __hash__ use) — the
    reference's exact K2 contract (MapReduceClient.h:24-29)."""

    __hash__ = None  # type: ignore[assignment]

    def __init__(self, s):
        self.s = s

    def __lt__(self, other):
        return self.s < other.s

    def __reduce__(self):  # picklable for Spark
        return (OrderOnlyKey, (self.s,))


def test_sort_mode_groups_by_ordering_equivalence(spark):
    # contract point 5: grouping by <-equivalence, not hash identity;
    # distinct OrderOnlyKey instances with equal payloads must group.
    def obj_map(_k, v):
        yield (OrderOnlyKey(v), 1)

    data = [(None, w) for w in ["b", "a", "b", "a", "a"]]
    out = run_map_reduce(
        data, obj_map, lambda k, vs: [(k.s, sum(vs))], spark=spark, key_mode="sort"
    ).collect()
    assert dict(out) == {"a": 3, "b": 2}


def test_sort_mode_yields_globally_sorted_keys(spark):
    # A4: reduce sees keys drawn from a sorted sequence — observable
    # per-partition; with numPartitions=1 it is the global order
    # (MapReduceClient.h:61).
    seen = []

    def recording_reduce(key, values):
        yield (key, sum(values))

    out = run_map_reduce(
        [(None, "d c b a d")],
        words_map,
        recording_reduce,
        spark=spark,
        key_mode="sort",
        num_partitions=1,
    )
    keys = [k for k, _ in out.collect()]
    assert keys == sorted(keys)


def test_dataframe_input_rows_as_values(spark):
    # DataFrame input: each Row is the V1, K1 is None
    # (reference passes nullptr input keys, FileWordCounter.cpp:221).
    df = spark.createDataFrame([("x", 1), ("y", 2), ("x", 3)], ["k", "v"])

    def row_map(_k, row):
        yield (row.k, row.v)

    out = dict(run_map_reduce(df, row_map, sum_reduce).collect())
    assert out == {"x": 4, "y": 2}


def test_map_reduce_df_vectorized(spark):
    # Spark-first path: mapInPandas flat-map + applyInPandas holistic
    df = spark.createDataFrame(
        [("k1", 5.0), ("k1", 1.0), ("k2", 2.0), ("k1", 9.0)], ["k", "v"]
    )

    def map_batches(it):
        for pdf in it:
            out = pdf.copy()
            out["v"] = out["v"] * 2
            yield out

    def median_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "med": [pdf["v"].median()]})

    out = map_reduce_df(
        df,
        map_batches,
        median_group,
        intermediate_schema="k string, v double",
        output_schema="k string, med double",
        key_cols="k",
    )
    assert dict((r.k, r.med) for r in out.collect()) == {"k1": 10.0, "k2": 4.0}


def test_async_job_handle_lifecycle(spark):
    # B1/B5/B6: start returns immediately; wait joins; close waits.
    df = spark.range(0, 100000).selectExpr("id % 97 AS k", "id AS v")
    handle = start_map_reduce_job(
        spark, lambda: df.groupBy("k").sum("v").collect()
    )
    state = handle.get_job_state()
    assert isinstance(state, JobState)
    assert state.stage in tuple(Stage)
    rows = handle.wait_for_job()
    assert len(rows) == 97
    assert handle.get_job_state() == JobState(Stage.REDUCE, 100.0)
    handle.close_job_handle()


def test_job_handle_propagates_errors(spark):
    def boom():
        raise RuntimeError("kaput")

    handle = start_map_reduce_job(spark, boom)
    with pytest.raises(RuntimeError, match="kaput"):
        handle.wait_for_job()


def test_wait_with_progress_transitions(spark):
    # C7 parity: polling loop records monotonic stage transitions
    # ending at REDUCE/100 (FileWordCounter.cpp:253-263).
    from map_reduce_library_spark.core.job import wait_with_progress

    df = spark.range(0, 2_000_000).selectExpr("id % 1009 AS k", "id AS v")
    handle = start_map_reduce_job(spark, lambda: df.groupBy("k").count().collect())
    result, log = wait_with_progress(handle, poll_interval=0.01)
    assert len(result) == 1009
    assert log[-1] == JobState(Stage.REDUCE, 100.0)
    stages = [s.stage for s in log]
    assert stages == sorted(stages)  # never regresses


def test_format_word_counts(spark):
    from map_reduce_library_spark.operators.wordcount import (
        format_word_counts,
        word_counts,
    )

    df = spark.createDataFrame([("a b a",)], ["text"])
    lines = sorted(r.line for r in format_word_counts(word_counts(df)).collect())
    assert lines == [
        "The word a appeared 2 time(s)",
        "The word b appeared 1 time(s)",
    ]


def test_cancel_running_job(spark):
    # Spark-native extension beyond the reference (which cannot
    # cancel, MapReduceFramework.cpp:386-421): cancel() aborts the
    # job group and wait_for_job surfaces the cancellation.
    import time

    def slow_batches(it):
        import time as t

        for pdf in it:
            t.sleep(30)
            yield pdf

    df = spark.range(0, 320).repartition(32)
    big = df.mapInPandas(slow_batches, "id long")
    handle = start_map_reduce_job(spark, lambda: big.collect())
    time.sleep(2)  # let tasks start
    t0 = time.time()
    handle.cancel()
    try:
        handle.wait_for_job(timeout=60)
        raise AssertionError("cancelled job returned a result")
    except TimeoutError:
        raise AssertionError("cancel did not interrupt the job")
    except Exception:
        pass  # cancellation surfaced as a Spark job failure: expected
    assert time.time() - t0 < 25, "cancel should not wait out the sleep"


def test_combiner_matches_uncombined(spark):
    # C4 parity: map-side pre-reduction must not change results, only
    # shuffle volume (FileWordCounter.cpp:87-118).
    import operator

    data = [(None, "a b a b c"), (None, "a a a")] * 50
    plain = dict(
        run_map_reduce(data, words_map, sum_reduce, spark=spark).collect()
    )
    combined = dict(
        run_map_reduce(
            data, words_map, sum_reduce, spark=spark, combiner_fn=operator.add
        ).collect()
    )
    assert combined == plain == {"a": 250, "b": 100, "c": 50}


def test_combiner_rejected_in_sort_mode(spark):
    import operator
    import pytest as pt

    with pt.raises(ValueError, match="key_mode='hash'"):
        run_map_reduce(
            INPUT, words_map, sum_reduce, spark=spark,
            key_mode="sort", combiner_fn=operator.add,
        )


def test_sort_mode_global_order_across_partitions(spark):
    # A4: range partitioner keeps global key order across partition
    # INDEXES, not just within partitions.
    data = [(None, f"k{i:03d}") for i in range(100)]

    def m(_k, v):
        yield (v, 1)

    out = run_map_reduce(
        data, m, lambda k, vs: [(k, sum(vs))], spark=spark,
        key_mode="sort", num_partitions=4,
    )
    per_part = out.mapPartitionsWithIndex(
        lambda idx, it: [(idx, [k for k, _ in it])]
    ).collect()
    per_part.sort()
    flat = [k for _, keys in per_part for k in keys]
    assert flat == sorted(flat) and len(flat) == 100


def test_partition_batched_reduce_matches_grouped(spark):
    # The sorted-stream reduce (repartition + sorted streaming groupby)
    # must equal a per-group applyInPandas reference exactly, including
    # groups that span Arrow batches.
    df = spark.range(0, 50000).selectExpr(
        "id % 997 AS k", "cast(id AS double) AS v"
    )

    def ident(it):
        yield from it

    def med(pdf):
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "med": [pdf["v"].median()],
             "n": [len(pdf)]}
        )

    kw = dict(
        intermediate_schema="k long, v double",
        output_schema="k long, med double, n long",
        key_cols="k",
    )
    reference = {
        (r.k, r.med, r.n)
        for r in df.groupBy("k")
        .applyInPandas(med, schema=kw["output_schema"])
        .collect()
    }
    fast = {
        (r.k, r.med, r.n)
        for r in map_reduce_df(df, ident, med, **kw).collect()
    }
    assert fast == reference and len(fast) == 997
    # map_batches=None declares the identity map WITHOUT the Arrow
    # round-trip: observationally identical to an explicit
    # `yield from` body.
    fused = {
        (r.k, r.med, r.n)
        for r in map_reduce_df(df, None, med, **kw).collect()
    }
    assert fused == reference


def test_partition_batched_null_key_group_single_reduce(spark):
    # NULL keys form a real group; the batched reducer must (a) keep
    # them (pandas groupby defaults to dropna) and (b) carry them
    # across Arrow batch boundaries null-safely (`== NaN` is False),
    # or a null group spanning batches is reduced once per fragment.
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        df = spark.range(0, 1000).selectExpr(
            "CASE WHEN id < 300 THEN NULL ELSE id % 7 END AS k",
            "cast(id AS double) AS v",
        ).repartition(1)

        def ident(it):
            yield from it

        def agg(pdf):
            return pd.DataFrame(
                {"k": [pdf["k"].iloc[0]], "n": [len(pdf)]}
            )

        out = map_reduce_df(
            df, ident, agg,
            intermediate_schema="k long, v double",
            output_schema="k long, n long",
            key_cols="k",
        ).collect()
        rows = {(r.k, r.n) for r in out}
        # exactly one output row for the NULL group, with the full count
        null_rows = [r for r in out if r.k is None]
        assert len(null_rows) == 1 and null_rows[0].n == 300
        assert len(out) == 8  # NULL + 7 modulo groups
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_partition_batched_groups_get_range_index(spark):
    """code-review r8: every path must hand reduce_group a 0..n-1
    RangeIndex (applyInPandas does; so does the batch-spanning concat)
    — a label-indexing callback like pdf.loc[0] must not break only
    for mid-batch groups of the sorted-stream reduce."""
    df = spark.range(0, 5000).selectExpr(
        "id % 23 AS k", "cast(id AS double) AS v"
    )

    def ident(it):
        yield from it

    def first_by_label(pdf):
        # .loc[0] is label-based: raises KeyError unless the group
        # frame carries a fresh RangeIndex.
        return pd.DataFrame(
            {"k": [pdf["k"].loc[0]], "v0": [pdf["v"].loc[0]],
             "n": [len(pdf)]}
        )

    kw = dict(
        intermediate_schema="k long, v double",
        output_schema="k long, v0 double, n long",
        key_cols="k",
    )
    rows = map_reduce_df(df, ident, first_by_label, **kw).collect()
    assert len(rows) == 23
    assert sum(r.n for r in rows) == 5000


def test_job_handle_refuses_unpinned_thread_mode(spark, monkeypatch):
    """code-review r8: job-group isolation is per-thread only under
    pinned-thread mode; in legacy mode concurrent handles would
    clobber each other's job group (cancel() killing a stranger), so
    the handle must refuse loudly."""
    import pytest

    from map_reduce_library_spark.core.job import start_map_reduce_job

    monkeypatch.setenv("PYSPARK_PIN_THREAD", "false")
    with pytest.raises(RuntimeError, match="pinned-thread"):
        start_map_reduce_job(spark, lambda: None)


def test_pair_level_progress_counters_are_exact(spark):
    """VERDICT r11 item 3: JobState percentages on the generic-MR path
    carry the REFERENCE'S denominators — exact pair counts, not task
    fractions (MapReduceFramework.cpp:13,104,141,157). After the job,
    every accumulator equals the hand-computed pair arithmetic."""
    from map_reduce_library_spark.core.job import (
        run_map_reduce_async,
        wait_with_progress,
    )

    data = [(None, i) for i in range(300)]

    def map_fn(k, v):
        yield (v % 7, 1)
        if v % 2 == 0:
            yield (v % 7, 1)  # 0..n emits per input pair

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=8
    )
    out, log = wait_with_progress(handle, poll_interval=0.005)
    assert sum(v for _, v in out) == 450  # 300 + 150 double-emits
    c = handle.counters
    assert c.input_total == 300  # denominator = len(input vector)
    assert c.mapped.value == 300  # map saw every input pair once
    assert c.emitted.value == 450  # intermediate pairs out of map
    assert c.shuffled.value == 450  # every pair arrived at a reducer
    assert c.reduced.value == 450  # every pair consumed by reduce
    assert c.keys.value == 7  # distinct keys reduced
    stages = [s.stage for s in log]
    assert stages == sorted(stages)  # never regresses
    assert log[-1] == JobState(Stage.REDUCE, 100.0)
    for st in log:  # within a stage the pair percentage is monotone
        assert 0.0 <= st.percentage <= 100.0
    for a, b in zip(log, log[1:]):
        if a.stage == b.stage:
            assert b.percentage >= a.percentage


def test_pair_level_progress_observes_mid_flight_map_fraction(spark):
    """Staggered map tasks make intermediate MAP states observable:
    the percentage mid-flight is mapped-pairs / input-total — a value
    a per-task tracker cannot produce for a single wide stage."""
    import time

    from map_reduce_library_spark.core.job import run_map_reduce_async

    n, parts = 320, 16
    data = [(None, i) for i in range(n)]

    def map_fn(k, v):
        # partition p holds v in [p*20, (p+1)*20): later partitions
        # sleep longer, so task completions (and accumulator updates)
        # arrive staggered over ~0.5 s
        time.sleep(0.0001 * (v // 20) ** 2)
        yield (v % 5, v)

    def reduce_fn(k, vals):
        yield (k, len(vals))

    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=parts
    )
    seen = []
    while not handle.done:
        st = handle.get_job_state()
        if st.stage == Stage.MAP and 0.0 < st.percentage < 100.0:
            seen.append(st.percentage)
        time.sleep(0.002)
    handle.wait_for_job()
    assert handle.counters.mapped.value == n
    # every observed mid-flight MAP percentage is a multiple of one
    # input pair over the exact denominator (pair-level, not task%):
    for pct in seen:
        k = pct * n / 100.0
        assert abs(k - round(k)) < 1e-9
    assert seen, "no mid-flight MAP state observed (stagger too fast)"
    assert seen == sorted(seen)


def test_pair_counters_sort_mode_and_combiner(spark):
    """Sort mode routes counters through the run reducer; combiner
    mode counts EMITTED as the post-combine pairs that actually cross
    the shuffle (the reference's combining client measures the same)."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, i) for i in range(100)]

    def map_fn(k, v):
        yield (v % 10, 1)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    h = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, key_mode="sort", num_partitions=4
    )
    out = h.wait_for_job()
    assert sorted(out) == [(k, 10) for k in range(10)]
    c = h.counters
    assert (c.mapped.value, c.emitted.value) == (100, 100)
    assert (c.shuffled.value, c.reduced.value, c.keys.value) == (100, 100, 10)

    h2 = run_map_reduce_async(
        spark,
        data,
        map_fn,
        reduce_fn,
        num_partitions=4,
        combiner_fn=lambda a, b: a + b,
    )
    out2 = h2.wait_for_job()
    assert sorted(out2) == [(k, 10) for k in range(10)]
    c2 = h2.counters
    assert c2.mapped.value == 100
    # 4 input partitions x 10 keys = at most 40 combined pairs, and
    # emitted == shuffled == reduced (what crossed the wire)
    assert c2.emitted.value <= 40
    assert c2.emitted.value == c2.shuffled.value == c2.reduced.value
    assert c2.keys.value == 10


def test_sink_mode_writes_pairs_without_driver_materialization(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 item 3: run_map_reduce_async(sink=path) is the
    100-TB escape hatch — output pairs land in parquet executor-side;
    nothing output-sized crosses the driver. Enforced with a poison:
    RDD.collect / DataFrame.collect raise for the duration, so ANY
    driver materialization on the sink path fails the test. Pair-level
    progress must be unaffected."""
    from pyspark.rdd import RDD
    from pyspark.sql import DataFrame as SqlDataFrame

    from map_reduce_library_spark.core.job import (
        run_map_reduce_async,
        wait_with_progress,
    )

    data = [(None, i) for i in range(120)]

    def map_fn(k, v):
        yield (str(v % 5), 1)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    def poisoned(self, *a, **kw):
        raise AssertionError("sink mode must not collect to the driver")

    sink = str(tmp_path / "mr_out")
    monkeypatch.setattr(RDD, "collect", poisoned)
    monkeypatch.setattr(SqlDataFrame, "collect", poisoned)
    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=4,
        sink=sink, sink_schema="key string, value bigint",
    )
    result, log = wait_with_progress(handle, poll_interval=0.005)
    monkeypatch.undo()
    assert result == sink  # the handle's result is the path, not rows
    out = {
        r["key"]: r["value"]
        for r in spark.read.parquet(sink).collect()
    }
    assert out == {str(i): 24 for i in range(5)}
    # pair-level counters flowed through the write job
    c = handle.counters
    assert c.mapped.value == 120
    assert c.emitted.value == 120
    assert c.shuffled.value == 120
    assert c.reduced.value == 120
    assert c.keys.value == 5
    stages = [s.stage for s in log]
    assert stages == sorted(stages)
    assert log[-1] == JobState(Stage.REDUCE, 100.0)


def test_sink_mode_infers_schema_without_recount(spark, tmp_path):
    """sink= without sink_schema persists the output once so schema
    inference does not recompute the instrumented lineage: counters
    stay exact (a recompute would double-count) and the parquet holds
    the same pairs."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, f"w{i % 3}") for i in range(60)]

    def map_fn(k, v):
        yield (v, 1)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    sink = str(tmp_path / "mr_inferred")
    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=3, sink=sink
    )
    assert handle.wait_for_job() == sink
    out = {
        r["key"]: r["value"]
        for r in spark.read.parquet(sink).collect()
    }
    assert out == {"w0": 20, "w1": 20, "w2": 20}
    c = handle.counters
    assert c.mapped.value == 60, "schema inference recomputed the lineage"
    assert c.emitted.value == 60
    assert c.reduced.value == 60
    assert c.keys.value == 3


def test_sink_mode_error_on_existing_path(spark, tmp_path):
    """sink_mode defaults to 'error': an existing path must fail the
    job loudly (surfaced by wait_for_job), never overwrite."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    sink = tmp_path / "occupied"
    sink.mkdir()
    (sink / "marker").write_text("precious")

    handle = run_map_reduce_async(
        spark, [(None, 1)],
        lambda k, v: [(v, 1)], lambda k, vals: [(k, sum(vals))],
        sink=str(sink), sink_schema="key bigint, value bigint",
    )
    with pytest.raises(Exception, match="already exists|ERROR"):
        handle.wait_for_job()
    assert (sink / "marker").read_text() == "precious"


def test_pair_counters_exact_under_task_retry(tmp_path):
    """VERDICT r12 item 5: induce a REAL task failure (first attempt
    of partition 0 dies mid-way, after some elements already bumped
    the accumulators) on a master with retries enabled and pin the
    counter behavior. Measured result: user accumulators drop updates
    from FAILED attempts (Spark's countFailedValues=False), so a plain
    retry leaves every counter exact — overshoot requires re-running a
    SUCCESSFUL task (speculation / stage recompute), which the
    PairCounters caveat covers. Also: stage sequence stays monotone
    and the final report is REDUCE/100%. Needs its own JVM —
    local[4,2] for maxFailures=2 — hence the subprocess."""
    import json
    import subprocess
    import sys
    import textwrap

    script = tmp_path / "retry_probe.py"
    script.write_text(textwrap.dedent("""
        import json, sys
        sys.path.insert(0, %r)
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[4,2]")
            .appName("retry-probe")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        from map_reduce_library_spark.core.job import (
            run_map_reduce_async, wait_with_progress,
        )
        data = [(None, i) for i in range(400)]
        def map_fn(k, v):
            from pyspark import TaskContext
            tc = TaskContext.get()
            if (tc is not None and tc.partitionId() == 0
                    and tc.attemptNumber() == 0 and v >= 30):
                raise RuntimeError("deliberate first-attempt failure")
            yield (v %% 5, 1)
        def reduce_fn(k, vals):
            yield (k, sum(vals))
        handle = run_map_reduce_async(
            spark, data, map_fn, reduce_fn, num_partitions=4
        )
        out, log = wait_with_progress(handle, poll_interval=0.002)
        c = handle.counters
        print("RESULT" + json.dumps({
            "out_sum": sum(v for _, v in out),
            "mapped": c.mapped.value, "emitted": c.emitted.value,
            "shuffled": c.shuffled.value, "reduced": c.reduced.value,
            "keys": c.keys.value,
            "stages": [int(s.stage) for s in log],
            "pcts": [s.percentage for s in log],
        }))
        spark.stop()
    """ % str(REPO)))
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")
    )
    r = json.loads(line[len("RESULT"):])
    assert r["out_sum"] == 400  # answers are exact regardless
    # failed-attempt accumulator updates are dropped -> exact counts
    assert r["mapped"] == 400
    assert r["emitted"] == 400
    assert r["shuffled"] == 400
    assert r["reduced"] == 400
    assert r["keys"] == 5
    # the retry never wedges or regresses the stage machine
    assert r["stages"] == sorted(r["stages"])
    assert r["stages"][-1] == int(Stage.REDUCE)
    assert r["pcts"][-1] == 100.0
    assert all(0.0 <= p <= 100.0 for p in r["pcts"])


def test_sink_mode_sort_key_mode_interplay(spark, tmp_path):
    """sink= composes with key_mode='sort': the range sketch and the
    sink write leave nothing persisted once the handle closes,
    counters stay exact, and the parquet holds the grouped answer."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, f"k{i % 4}") for i in range(80)]

    def map_fn(k, v):
        yield (v, 1)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    sink = str(tmp_path / "mr_sorted")
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, key_mode="sort",
        num_partitions=4, sink=sink,
        sink_schema="key string, value bigint",
    )
    assert handle.wait_for_job() == sink
    out = {
        r["key"]: r["value"] for r in spark.read.parquet(sink).collect()
    }
    assert out == {f"k{i}": 20 for i in range(4)}
    c = handle.counters
    assert c.mapped.value == 80
    assert c.emitted.value == 80
    assert c.reduced.value == 80
    assert c.keys.value == 4
    handle.close_job_handle()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted, (
        "sort-mode sink job left an RDD pinned"
    )


def test_pair_progress_handoff_never_consults_tracker(spark):
    """VERDICT r13 item 1, deterministic (no poll race): once a handle
    carries PairCounters with a known input_total, the per-task
    StatusTracker must NEVER be consulted — before the first
    accumulator update lands the report is MAP/0% (the reference packs
    MAP/total/0 into its atomic before any thread starts,
    MapReduceFramework.cpp:216), never a task fraction the first
    pair-level reading could undershoot. The tracker method is
    poisoned for the whole window the r13 flake lived in."""
    import threading

    from map_reduce_library_spark.core.job import JobHandle
    from map_reduce_library_spark.core.mapreduce import PairCounters

    gate = threading.Event()
    counters = PairCounters(spark, input_total=300)
    handle = JobHandle(spark, gate.wait, counters=counters)

    def tracker_poison():
        raise AssertionError(
            "tracker consulted while pair counters are attached"
        )

    handle._tracker_state = tracker_poison
    # the exact r13 race, now deterministic: poll BEFORE any
    # accumulator delivery → MAP/0%, not a 12.5% task fraction
    assert handle.get_job_state() == JobState(Stage.MAP, 0.0)
    counters.mapped.add(37)  # first (partial) delivery: 37/300 pairs
    st = handle.get_job_state()
    assert st == JobState(Stage.MAP, 100.0 * 37 / 300)
    gate.set()
    handle.wait_for_job()
    assert handle.get_job_state() == JobState(Stage.REDUCE, 100.0)


def test_progress_high_water_latch_is_monotone(spark):
    """VERDICT r13 item 1b: the per-stage high-water latch reproduces
    the packed-atomic monotonicity (MapReduceFramework.cpp:372-380 —
    the reference's progress word only ever advances): forced raw
    regressions of stage or same-stage percentage are clamped to the
    high-water reading; a stage advance legitimately resets the
    percentage."""
    import threading

    from map_reduce_library_spark.core.job import JobHandle
    from map_reduce_library_spark.core.mapreduce import PairCounters

    gate = threading.Event()
    handle = JobHandle(
        spark, gate.wait, counters=PairCounters(spark, input_total=100)
    )
    feed: list[JobState] = []
    handle._raw_state = lambda: feed[-1]

    feed.append(JobState(Stage.MAP, 50.0))
    assert handle.get_job_state() == JobState(Stage.MAP, 50.0)
    feed.append(JobState(Stage.MAP, 40.0))  # same-stage regression
    assert handle.get_job_state() == JobState(Stage.MAP, 50.0)
    feed.append(JobState(Stage.SHUFFLE, 10.0))  # advance resets pct
    assert handle.get_job_state() == JobState(Stage.SHUFFLE, 10.0)
    feed.append(JobState(Stage.MAP, 90.0))  # stage regression
    assert handle.get_job_state() == JobState(Stage.SHUFFLE, 10.0)
    feed.append(JobState(Stage.REDUCE, 100.0))
    assert handle.get_job_state() == JobState(Stage.REDUCE, 100.0)
    # failure bypasses the latch: terminal, not progress
    feed.append(JobState(Stage.UNDEFINED, 0.0, failed=True))
    assert handle.get_job_state().failed
    gate.set()
    handle.wait_for_job()


def test_exact_reduce_keys_hash_mode(spark):
    """VERDICT r13 item 5: exact_reduce_keys=True restores the
    reference's exact KEY-weighted REDUCE denominator
    (MapReduceFramework.cpp:190-195; +1 per key at :157) via one
    distinct-key count at the shuffle→reduce flip. Staggered reduce
    groups make mid-reduce states observable; every observed REDUCE
    percentage must be a whole number of keys over the exact key
    total — a value the pair-weighted default cannot produce here
    (group sizes differ, so pair fractions are NOT key multiples)."""
    import time

    from map_reduce_library_spark.core.job import run_map_reduce_async

    n, n_keys = 144, 8
    data = [(None, i) for i in range(n)]

    def map_fn(k, v):
        yield (v % n_keys, 1)
        if v % n_keys < 4:
            yield (v % n_keys, 1)  # uneven group sizes: 36 vs 18 pairs

    def reduce_fn(k, vals):
        time.sleep(0.05 * (k + 1))  # stagger group completions
        yield (k, sum(vals))

    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=4,
        exact_reduce_keys=True,
    )
    seen = []
    while not handle.done:
        st = handle.get_job_state()
        if st.stage == Stage.REDUCE and 0.0 < st.percentage < 100.0:
            seen.append(st.percentage)
        time.sleep(0.002)
    out = handle.wait_for_job()
    assert sorted(out) == [
        (k, 36 if k < 4 else 18) for k in range(n_keys)
    ]
    c = handle.counters
    assert c.key_total == n_keys  # the reference's exact denominator
    assert c.keys.value == n_keys
    assert c.mapped.value == n  # count job + persist: no double count
    assert c.emitted.value == 216
    assert seen, "no mid-reduce state observed (stagger too fast)"
    for pct in seen:
        frac = pct * n_keys / 100.0
        assert abs(frac - round(frac)) < 1e-9, pct
    assert seen == sorted(seen)
    # the count job's persisted intermediate was released
    cached = c.cached_intermediate
    assert cached is not None and not cached.is_cached


def test_exact_reduce_keys_sort_mode_ordering_only(spark):
    """Sort mode groups ORDERING-equal runs on the range-partitioned
    sorted intermediate — keys need only ``<`` (the reference's type
    contract), no hashing — and the distinct-key count is a count of
    those groups; the persisted groups are released when the handle
    closes."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, i) for i in range(90)]

    def map_fn(k, v):
        yield (OrderOnlyKey(v % 9), 1)

    def reduce_fn(k, vals):
        yield (k.s, sum(vals))

    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    handle = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, key_mode="sort",
        num_partitions=4, exact_reduce_keys=True,
    )
    out = handle.wait_for_job()
    assert sorted(out) == [(k, 10) for k in range(9)]
    c = handle.counters
    assert c.key_total == 9
    assert c.keys.value == 9
    assert c.mapped.value == 90  # persist kept the count single-pass
    handle.close_job_handle()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_counter_overshoot_from_duplicate_delivery_stays_clamped(spark):
    """VERDICT r13 item 4 (deterministic half): the documented
    overshoot path — a re-executed SUCCESSFUL task (speculative copy
    or stage recompute) re-delivering its accumulator update — lands
    on the driver as a second merge into the same accumulator, which
    this test reproduces exactly with driver-side adds. Under
    overshoot the percentages must stay clamped at 100, monotone
    under the high-water latch, and every stage reachable — progress
    degrades gracefully, answers never flow through accumulators."""
    import threading

    from map_reduce_library_spark.core.job import JobHandle
    from map_reduce_library_spark.core.mapreduce import PairCounters

    gate = threading.Event()
    c = PairCounters(spark, input_total=100)
    handle = JobHandle(spark, gate.wait, counters=c)
    log = []

    def poll():
        st = handle.get_job_state()
        log.append(st)
        return st

    c.mapped.add(60)
    assert poll() == JobState(Stage.MAP, 60.0)
    c.mapped.add(60)  # duplicate delivery: mapped=120 > total=100
    st = poll()  # map overshoot → map is complete: SHUFFLE, never >100
    assert st.stage == Stage.SHUFFLE and st.percentage == 0.0
    c.emitted.add(100)
    c.shuffled.add(150)  # duplicate shuffle-side delivery
    assert poll() == JobState(Stage.SHUFFLE, 100.0)  # clamped
    c.reduced.add(80)
    assert poll() == JobState(Stage.REDUCE, 80.0)
    c.reduced.add(40)  # duplicate: reduced=120 > emitted=100
    assert poll() == JobState(Stage.REDUCE, 100.0)  # clamped
    # key-weighted mode clamps the same way
    c.key_total = 5
    c.keys.add(7)
    assert poll() == JobState(Stage.REDUCE, 100.0)
    gate.set()
    handle.wait_for_job()
    assert poll() == JobState(Stage.REDUCE, 100.0)
    stages = [s.stage for s in log]
    assert stages == sorted(stages)
    for a, b in zip(log, log[1:]):
        if a.stage == b.stage:
            assert b.percentage >= a.percentage
    assert all(0.0 <= s.percentage <= 100.0 for s in log)


def test_counters_exact_with_speculation_enabled_real_cluster():
    """VERDICT r13 item 4 (live half): enable spark.speculation for
    real — which requires a non-local master (TaskSchedulerImpl.start
    gates the speculation thread on !isLocal), so this runs a
    local-cluster[2,4,1024] pseudo-cluster in a SUBPROCESS — put an
    artificial straggler in one partition's map_fn, and assert the
    pair-level JobState invariants hold end-to-end: percentages
    clamped to [0,100], stage sequence monotone, per-stage percentage
    monotone (the item-1 latch), all stages reachable, final
    REDUCE/100, and the ANSWER exact.

    Measured fact this test also records: a speculative COPY can
    never launch on this (or any single-host) deployment — the
    scheduler refuses to place a speculative attempt on a host that
    already has one (TaskSetManager.dequeueTaskFromList →
    hasAttemptOnHost), and every executor here shares the host. So
    with speculation ON, single-host counters remain EXACT (asserted
    below); the speculative-duplicate overshoot documented in
    PairCounters is reachable only multi-host, and its observable
    effect on JobState is pinned deterministically by
    test_counter_overshoot_from_duplicate_delivery_stays_clamped."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    child_src = textwrap.dedent("""
        import json, time
        from pyspark.sql import SparkSession
        from map_reduce_library_spark.core.job import run_map_reduce_async

        spark = (SparkSession.builder.master("local-cluster[2,4,1024]")
            .appName("mrls-speculation-test")
            .config("spark.ui.enabled", "false")
            .config("spark.speculation", "true")
            .config("spark.speculation.interval", "50ms")
            .config("spark.speculation.multiplier", "1.2")
            .config("spark.speculation.quantile", "0.5")
            .config("spark.speculation.efficiency.enabled", "false")
            .config("spark.speculation.task.duration.threshold", "1s")
            .getOrCreate())

        n = 160
        data = [(None, i) for i in range(n)]

        def map_fn(k, v):
            # partition v//20: partition 7 is the straggler (~2.4 s;
            # others finish in ms), comfortably past the 1 s absolute
            # speculation threshold and the 1.2x-median quantile path
            if v // 20 == 7:
                time.sleep(0.12)
            yield (v % 5, 1)

        def reduce_fn(k, vals):
            yield (k, sum(vals))

        handle = run_map_reduce_async(
            spark, data, map_fn, reduce_fn, num_partitions=8
        )
        log = []
        while not handle.done:
            st = handle.get_job_state()
            if not log or (st.stage, st.percentage) != log[-1]:
                log.append((int(st.stage), st.percentage))
            time.sleep(0.005)
        out = handle.wait_for_job()
        c = handle.counters
        print("RESULT " + json.dumps({
            "out": sorted(out),
            "log": log,
            "mapped": c.mapped.value, "emitted": c.emitted.value,
            "shuffled": c.shuffled.value, "reduced": c.reduced.value,
            "keys": c.keys.value,
        }))
        spark.stop()
    """)
    env = dict(os.environ)
    # the child imports the package of this checkout
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", child_src], capture_output=True,
        text=True, timeout=300, env=env,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert lines, f"child produced no result:\n{proc.stderr[-3000:]}"
    r = json.loads(lines[0][len("RESULT "):])
    assert r["out"] == [[k, 32] for k in range(5)]  # answer exact
    # single-host: no speculative copy can launch → counters exact
    assert r["mapped"] == 160
    assert r["emitted"] == 160
    assert r["shuffled"] == 160
    assert r["reduced"] == 160
    assert r["keys"] == 5
    log = r["log"]
    stages = [s for s, _ in log]
    assert stages == sorted(stages)  # stage sequence monotone
    for (sa, pa), (sb, pb) in zip(log, log[1:]):
        if sa == sb:
            assert pb >= pa  # per-stage monotone under the latch
    assert all(0.0 <= p <= 100.0 for _, p in log)
    assert log[-1] == [3, 100.0] or tuple(log[-1]) == (3, 100.0)


def test_exact_reduce_keys_with_combiner(spark):
    """exact_reduce_keys composes with the map-side combiner: the
    distinct-key count runs on the POST-combine intermediate (same key
    set, fewer pairs), emitted counts combined pairs crossing the
    shuffle, and the key denominator still equals the true distinct
    key count."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, i) for i in range(120)]

    def map_fn(k, v):
        yield (v % 6, 1)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    h = run_map_reduce_async(
        spark, data, map_fn, reduce_fn, num_partitions=4,
        combiner_fn=lambda a, b: a + b, exact_reduce_keys=True,
    )
    out = h.wait_for_job()
    assert sorted(out) == [(k, 20) for k in range(6)]
    c = h.counters
    assert c.key_total == 6
    assert c.keys.value == 6
    assert c.mapped.value == 120  # single instrumented map pass
    # 4 partitions x 6 keys max post-combine
    assert c.emitted.value <= 24
    assert c.emitted.value == c.shuffled.value == c.reduced.value
    cached = c.cached_intermediate
    assert cached is not None and not cached.is_cached


def test_sorted_stream_reduce_separates_null_and_nan_keys(spark):
    """NULL and NaN are different groups (Spark's groupBy keeps them
    apart; pandas reads both as NaN), -0.0 and 0.0 are one group: the
    sorted-stream reduce must match a per-group applyInPandas
    reference on exactly these keys, also when every row arrives in
    its own Arrow batch (each group then spans batches)."""
    nan = float("nan")
    keys = [None, None, nan, nan, -0.0, 0.0, 1.0]
    df = spark.createDataFrame(
        [(k, float(i + 1)) for i, k in enumerate(keys)], "k double, v double"
    )

    def agg(pdf):
        return pd.DataFrame({"n": [len(pdf)], "s": [pdf["v"].sum()]})

    schema = "n long, s double"
    reference = sorted(
        tuple(r) for r in df.groupBy("k").applyInPandas(agg, schema).collect()
    )
    # NULL (v 1+2), NaN (3+4), zero (5+6), one (7)
    assert reference == [(1, 7.0), (2, 3.0), (2, 7.0), (2, 11.0)]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, "10000")
    try:
        for batch_rows in (old, "1"):
            spark.conf.set(conf, batch_rows)
            got = sorted(
                tuple(r)
                for r in map_reduce_df(
                    df, None, agg, intermediate_schema="k double, v double",
                    output_schema=schema, key_cols="k",
                ).collect()
            )
            assert got == reference, batch_rows
    finally:
        spark.conf.set(conf, old)


def test_sorted_stream_reduce_batches_outputs_like_apply_in_pandas(spark):
    """Outputs are sent back one frame per input batch: groups that
    emit zero rows (typed or ``pd.DataFrame()``), several rows, or
    their columns in another order must come out exactly as a
    per-group applyInPandas reference, at any Arrow batch size."""
    df = spark.createDataFrame(
        [(k, float(k * 10 + j)) for k in range(320) for j in range(1 + k % 5)],
        "k long, v double",
    ).repartition(5)
    schema = "k long, n long, s double"

    def reduce_group(pdf):
        k = int(pdf["k"].iloc[0])
        if k % 4 == 0:
            return pd.DataFrame(
                {"k": pd.Series([], dtype="int64"),
                 "n": pd.Series([], dtype="int64"),
                 "s": pd.Series([], dtype="float64")}
            )
        if k % 4 == 1:
            return pd.DataFrame()
        if k % 4 == 2:  # one row per value, columns reordered
            return pd.DataFrame(
                {"s": pdf["v"].to_numpy(), "n": range(len(pdf)), "k": k}
            )
        return pd.DataFrame({"k": [k], "n": [len(pdf)], "s": [pdf["v"].sum()]})

    reference = sorted(
        tuple(r)
        for r in df.groupBy("k").applyInPandas(reduce_group, schema).collect()
    )
    assert len(reference) > 160
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, "10000")
    try:
        for batch_rows in (old, "1", "7"):
            spark.conf.set(conf, batch_rows)
            got = sorted(
                tuple(r)
                for r in map_reduce_df(
                    df, None, reduce_group,
                    intermediate_schema="k long, v double",
                    output_schema=schema, key_cols="k",
                ).collect()
            )
            assert got == reference, batch_rows
    finally:
        spark.conf.set(conf, old)


def test_sorted_stream_reduce_hides_null_flags_and_allows_empty_output(spark):
    """With two key columns, reduce_group sees exactly the intermediate
    columns (the JVM null flags are dropped first), a NULL in either
    key column makes its own group, and a group may emit zero rows."""
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 1.0, 2), ("a", None, 3), ("b", 2.0, 4),
         (None, 2.0, 5)],
        "k string, j double, v long",
    )
    seen = spark.sparkContext.accumulator(0)

    def reduce_group(pdf):
        if list(pdf.columns) != ["k", "j", "v"]:
            raise AssertionError(f"reduce saw columns {list(pdf.columns)}")
        seen.add(1)
        if pdf["k"].iloc[0] == "b":
            return pd.DataFrame()
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]})

    out = map_reduce_df(
        df, None, reduce_group,
        intermediate_schema="k string, j double, v long",
        output_schema="k string, n long", key_cols=["k", "j"],
    ).collect()
    assert sorted((r.k or "", r.n) for r in out) == [
        ("", 1), ("a", 1), ("a", 2),
    ]
    assert seen.value == 4


def test_identity_map_checks_intermediate_schema(spark):
    """map_batches=None feeds the input to the reduce unchanged, so an
    input whose columns or types differ from intermediate_schema is
    refused instead of silently reducing other dtypes."""
    df = spark.createDataFrame([("a", 1)], "k string, v long")

    def reduce_group(pdf):
        return pdf

    kw = dict(output_schema="k string, v long", key_cols="k")
    for declared in ("k string, v double", "k string, w long", "v long, k string"):
        with pytest.raises(ValueError, match="intermediate_schema"):
            map_reduce_df(
                df, None, reduce_group, intermediate_schema=declared, **kw
            )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    as_struct = StructType(
        [StructField("k", StringType(), False), StructField("v", LongType())]
    )
    out = map_reduce_df(
        df, None, reduce_group, intermediate_schema=as_struct, **kw
    ).collect()
    assert [tuple(r) for r in out] == [("a", 1)]


def test_sort_mode_job_count(spark):
    """Sort mode runs one sketch job for its range bounds plus the
    shuffle job itself; with one output partition there is nothing to
    sketch."""
    from map_reduce_library_spark.core.mapreduce import PairCounters

    data = [(None, f"k{i % 13}") for i in range(200)]

    def m(_k, v):
        yield (OrderOnlyKey(v), 1)

    def r(k, vs):
        yield (k.s, sum(vs))

    want = {f"k{i}": len(range(i, 200, 13)) for i in range(13)}
    for parts, jobs in ((4, 2), (1, 1)):
        c = PairCounters(spark, len(data))
        out: list = []
        n = jobs_started_by(
            spark,
            lambda: out.extend(
                run_map_reduce(
                    data, m, r, spark=spark, key_mode="sort",
                    num_partitions=parts, counters=c,
                ).collect()
            ),
        )
        assert dict(out) == want
        assert n == jobs, (parts, n)
        # the sketch maps without counters: every pair counted once
        assert (c.mapped.value, c.emitted.value) == (200, 200)
        assert (c.shuffled.value, c.reduced.value, c.keys.value) == (
            200, 200, 13,
        )
        assert c.cached_intermediate is None


def test_exact_reduce_keys_hash_mode_job_count(spark):
    """Hash mode with exact keys: the key-count job and the reduce job,
    nothing else; the persisted groups are released on close."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    data = [(None, i) for i in range(100)]
    sc = spark.sparkContext
    persisted = len(sc._jsc.getPersistentRDDs())
    handle = run_map_reduce_async(
        spark, data, lambda k, v: [(v % 7, v)],
        lambda k, vs: [(k, len(vs))], num_partitions=4,
        exact_reduce_keys=True,
    )
    out = handle.close_job_handle()
    assert sorted(out) == [(k, len(range(k, 100, 7))) for k in range(7)]
    assert handle.counters.key_total == 7
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(handle._group)) == 2
    assert len(sc._jsc.getPersistentRDDs()) == persisted


def test_range_bounds_weighted_and_deduplicated(spark):
    """The sketch's bounds split the pair weight evenly and never
    repeat an ordering-equal key, so a hot key cannot be cut across
    partitions; keys need only ``<``."""
    from map_reduce_library_spark.core.mapreduce import _range_bounds

    # one hot key holding 90% of the pairs, then 100 light keys
    pairs = [(OrderOnlyKey("a"), 1)] * 900 + [
        (OrderOnlyKey(f"b{i:03d}"), 1) for i in range(100)
    ]
    rdd = spark.sparkContext.parallelize(pairs, 4)
    bounds = _range_bounds(rdd, 4)
    names = [b.s for b in bounds]
    assert names == sorted(set(names))
    assert 1 <= len(bounds) <= 3
    assert names[0] == "a"  # the hot key closes the first range
    assert _range_bounds(spark.sparkContext.parallelize([], 2), 4) == []
