"""Package-boundary probes — step 2 of the verify recipe
(.claude/skills/verify/SKILL.md): exercise the public MapReduce API
exactly the way an external user would, from a fresh interpreter,
asserting the reference-parity behaviors that the DuckDB differential
cannot see (async lifecycle, argument validation, double-close).

Run:  python <checkout>/tools/boundary_probes.py   (from any directory)
Exits nonzero on the first failed probe; prints one PROBE line each.

Contract points exercised (SURVEY.md §2A/§2B):
  * run_map_reduce over a real DataFrame — map_fn is (key, value) ->
    pairs, value rows arrive with key=None (the reference consumes
    input positionally and passes nullptr keys,
    FileWordCounter.cpp:221).
  * empty input -> empty output, no error.
  * plain-list input without spark= raises ValueError (a list has no
    session to derive).
  * bad key_mode raises ValueError.
  * async: start_map_reduce_job(spark, thunk) -> JobHandle;
    get_job_state mid-flight, wait_for_job returns the result,
    close_job_handle is idempotent (double close, the reference's
    closeJobHandle contract).
  * sort mode with exact_reduce_keys on a key type that has only
    ``<``: counters and key_total exact, and no RDD left persisted
    once the handle is closed.
  * map_reduce_df over 64 keys with 5-row Arrow batches, so groups
    span batches and a batch completes several groups: every median
    exact.
  * reused Python workers: a task's ``importlib.invalidate_caches()``
    re-reads no unchanged zip archive (CPython 3.11), and a zip added
    by ``addPyFile`` afterwards still imports.
"""
import os
import sys
import tempfile
import zipfile
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)


class OrderOnlyKey:
    """A key with ordering only (no hashing), the reference's K2
    contract. Imported as ``tools.boundary_probes.OrderOnlyKey`` so
    Python workers can unpickle it."""

    __hash__ = None  # type: ignore[assignment]

    def __init__(self, s):
        self.s = s

    def __lt__(self, other):
        return self.s < other.s


def main() -> int:
    # the workers import the probe's key class from the repo root
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{REPO}{os.pathsep}{prev}" if prev else REPO
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from map_reduce_library_spark import (
        run_map_reduce,
        start_map_reduce_job,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    out = run_map_reduce(
        docs.select("doc_id", "text"),
        lambda k, row: [(w, 1) for w in row.text.split(" ")],
        lambda k, vs: [(k, sum(vs))],
        spark=spark,
    )
    n = out.count()
    assert n > 0, "wordcount produced no rows"
    print(f"PROBE run_map_reduce rows: {n}")

    empty = docs.where("doc_id < 0").select("doc_id", "text")
    e = run_map_reduce(
        empty,
        lambda k, r: [(r.text, 1)],
        lambda k, vs: [(k, len(vs))],
        spark=spark,
    )
    assert e.count() == 0
    print("PROBE empty input -> empty output")

    try:
        run_map_reduce(
            [(None, "a b")], lambda k, r: [(r, 1)], lambda k, v: [(k, len(v))]
        )
        raise AssertionError("list input without spark= must raise")
    except ValueError:
        print("PROBE list input without spark= raises ValueError")

    try:
        run_map_reduce(
            docs.select("doc_id", "text"),
            lambda k, r: [(1, 1)],
            lambda k, v: [(k, 1)],
            spark=spark,
            key_mode="bogus",
        )
        raise AssertionError("bad key_mode must raise")
    except ValueError:
        print("PROBE bad key_mode raises ValueError")

    job = start_map_reduce_job(
        spark,
        lambda: run_map_reduce(
            docs.select("doc_id", "text"),
            lambda k, row: [(w, 1) for w in row.text.split(" ")],
            lambda k, vs: [(k, sum(vs))],
            spark=spark,
        ).collect(),
    )
    st = job.get_job_state()
    print(f"PROBE mid-flight state: {st}")
    res = job.wait_for_job()
    assert len(res) == n
    print(f"PROBE async result rows: {len(res)}")
    job.close_job_handle()
    job.close_job_handle()  # idempotent, the reference contract
    print("PROBE double close ok")

    # pair-level progress (round 12): the reference's JobState
    # denominators on the generic-MR path
    from map_reduce_library_spark import run_map_reduce_async

    data = [(None, i) for i in range(60)]
    h = run_map_reduce_async(
        spark,
        data,
        lambda k, v: [(v % 6, 1)],
        lambda k, vs: [(k, sum(vs))],
        num_partitions=4,
    )
    out = h.wait_for_job()
    assert sorted(out) == [(k, 10) for k in range(6)]
    c = h.counters
    assert (c.input_total, c.mapped.value, c.emitted.value) == (60, 60, 60)
    assert (c.shuffled.value, c.reduced.value, c.keys.value) == (60, 60, 6)
    st = h.get_job_state()
    assert st.stage.name == "REDUCE" and st.percentage == 100.0
    print("PROBE pair-level counters exact (60 in / 60 emitted / 6 keys)")

    from tools.boundary_probes import OrderOnlyKey as Key

    sc = spark.sparkContext
    persisted = len(sc._jsc.getPersistentRDDs())
    h = run_map_reduce_async(
        spark,
        [(None, i) for i in range(90)],
        lambda k, v: [(Key(v % 9), 1)],
        lambda k, vs: [(k.s, sum(vs))],
        key_mode="sort",
        num_partitions=4,
        exact_reduce_keys=True,
    )
    out = h.close_job_handle()
    assert sorted(out) == [(k, 10) for k in range(9)]
    c = h.counters
    got = (
        c.mapped.value, c.emitted.value, c.shuffled.value,
        c.reduced.value, c.keys.value, c.key_total,
    )
    assert got == (90, 90, 90, 90, 9, 9), got
    assert len(sc._jsc.getPersistentRDDs()) == persisted, "RDD left pinned"
    print("PROBE sort mode exact keys: counters exact, key_total 9, nothing pinned")

    import pandas as pd

    from map_reduce_library_spark.core import map_reduce_df

    # key k holds 2 * (k % 3) + 1 values, so its median is k * 100 + k % 3;
    # 5-row Arrow batches split groups across batches
    vals = spark.createDataFrame(
        [(k, float(k * 100 + j)) for k in range(64) for j in range(2 * (k % 3) + 1)],
        "k long, v double",
    )
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch_rows = spark.conf.get(batch_conf, "10000")
    spark.conf.set(batch_conf, "5")
    try:
        medians = map_reduce_df(
            vals, None,
            lambda pdf: pd.DataFrame(
                {"k": [pdf["k"].iloc[0]], "med": [pdf["v"].median()]}
            ),
            intermediate_schema="k long, v double",
            output_schema="k long, med double", key_cols="k",
        ).collect()
    finally:
        spark.conf.set(batch_conf, batch_rows)
    got = sorted(tuple(r) for r in medians)
    assert got == [(k, float(k * 100 + k % 3)) for k in range(64)], got
    print("PROBE map_reduce_df: 64 medians exact over 5-row Arrow batches")

    # every worker of this application ran a MapReduce task above, so
    # a one-task job lands on a reused, patched worker
    def archive_rereads(_):
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield reads

    if sys.version_info[:2] == (3, 11):
        reads = sc.parallelize([0], 1).mapPartitions(archive_rereads).collect()
        assert reads == [[]], f"unchanged archives re-read: {reads}"
        print("PROBE reused worker: invalidate_caches re-read no archive")

    def late_value(_):
        import probe_late_mod

        yield probe_late_mod.VALUE

    with tempfile.TemporaryDirectory() as tmp:
        late_zip = os.path.join(tmp, "probe_late_mod.zip")
        with zipfile.ZipFile(late_zip, "w") as zf:
            zf.writestr("probe_late_mod.py", "VALUE = 42\n")
        sc.addPyFile(late_zip)
        late = sc.parallelize([0], 1).mapPartitions(late_value).collect()
    assert late == [42], late
    print("PROBE addPyFile zip imports in a later task")
    print("PROBES ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
