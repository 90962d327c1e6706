"""Queries that drive the GENERIC MapReduce layer (core.mapreduce)
through the driver contract — proving the reference's API surface
(flat-map, holistic reduce, multi-emit, zero-emit) produces
oracle-correct answers, not just passing unit tests.

All map/reduce callbacks are defined INSIDE the query functions so
cloudpickle ships them by value — executors don't need this package on
their PYTHONPATH.

Reference parity targets: map multiplicity (MapReduceClient.h:69),
holistic reduce (MapReduceClient.h:77,83), reduce multiplicity
(MapReduceClient.h:78).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from map_reduce_library_spark.core.mapreduce import map_reduce_df, run_map_reduce
from map_reduce_library_spark.queries import register
from map_reduce_library_spark.tables import load_table


@register(
    "mr_generic_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def mr_generic_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship run through the GENERIC RDD path
    (arbitrary Python K/V objects): map = tokenize flat-map, reduce =
    holistic sum. Same oracle as the DataFrame-native `wordcount`."""

    def tokenize_map(_k, row):
        for w in row.text.split(" "):
            yield (w, 1)

    def sum_reduce(key, values):
        yield (key, sum(values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    out = run_map_reduce(docs, tokenize_map, sum_reduce)
    return spark.createDataFrame(out, schema="word string, cnt bigint")


@register(
    "mr_combiner_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def mr_combiner_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference client's own optimization — per-partition local
    aggregation before the shuffle (FileWordCounter.cpp:87-118) — via
    ``combiner_fn``: shuffle volume drops from one pair per token to
    one pair per (partition, word), and the answer must be identical
    to the combiner-less path (same oracle as mr_generic_wordcount)."""

    def tokenize_map(_k, row):
        for w in row.text.split(" "):
            yield (w, 1)

    def sum_reduce(key, values):
        yield (key, sum(values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    out = run_map_reduce(
        docs, tokenize_map, sum_reduce, combiner_fn=lambda a, b: a + b
    )
    return spark.createDataFrame(out, schema="word string, cnt bigint")


@register(
    "mr_sortmode_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def mr_sortmode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordering-only key path (key_mode='sort'): range-partition +
    in-partition sort, then adjacent ordering-equal runs form the groups —
    exactly the reference's sorted IntermediateMap contract
    (MapReduceClient.h:50-54,61; MapReduceFramework.cpp:72-87), which
    needs only ``<`` on keys, never hashing. Same oracle as the hash
    path: grouping by ordering-equivalence must give identical
    answers when the key type's ordering is consistent with
    equality."""

    def tokenize_map(_k, row):
        for w in row.text.split(" "):
            yield (w, 1)

    def sum_reduce(key, values):
        yield (key, sum(values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    out = run_map_reduce(docs, tokenize_map, sum_reduce, key_mode="sort")
    return spark.createDataFrame(out, schema="word string, cnt bigint")


@register(
    "mr_exact_keys_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def mr_exact_keys_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact KEY-weighted REDUCE progress
    (MapReduceFramework.cpp:190-195 packs the distinct intermediate
    key count; reduceWrapper advances one per key at :157), driven
    end-to-end through the async handle (VERDICT r13 item 5):
    ``run_map_reduce_async(exact_reduce_keys=True)`` runs one
    distinct-key count at the shuffle->reduce flip and JobState's
    reduce %% becomes keys-reduced / key-total. Same oracle as
    mr_generic_wordcount — the progress instrumentation (persist +
    count job) must not change the answer — and the handle's
    key_total must equal the output row count, asserted here so a
    drifting denominator fails loudly rather than shipping a wrong
    progress scale."""
    from map_reduce_library_spark.core.job import run_map_reduce_async

    def tokenize_map(_k, row):
        for w in row.text.split(" "):
            yield (w, 1)

    def sum_reduce(key, values):
        yield (key, sum(values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    n_docs = docs.count()
    handle = run_map_reduce_async(
        spark, docs, tokenize_map, sum_reduce,
        input_total=n_docs, exact_reduce_keys=True,
    )
    out = handle.close_job_handle()
    c = handle.counters
    if c.key_total != len(out):
        raise AssertionError(
            f"exact reduce-key denominator {c.key_total} != distinct "
            f"output keys {len(out)}"
        )
    return spark.createDataFrame(out, schema="word string, cnt bigint")


@register(
    "mr_holistic_median",
    oracle="""
    SELECT user_id, round(median(value), 9) AS median_value,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
)
def mr_holistic_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic (non-associative) reduce — the capability that makes
    the reference's reduce strictly more general than pairwise
    combiners (MapReduceClient.h:77,83): per-user MEDIAN via the
    vectorized sorted-stream path. The map phase is the declared
    IDENTITY (``map_batches=None``), so the input's Arrow round-trip
    through a ``yield from`` body is skipped — the scan feeds the
    key shuffle directly and only the holistic reduce crosses into
    Python (r14 residual #5; guide §4)."""
    import pandas as pd  # noqa: F401 (worker-side)

    def median_group(pdf):
        import decimal

        import pandas as pd

        # HALF_UP (away-from-zero) to 9dp, matching DuckDB's round()
        # and Spark's F.round — Python's builtin round() is banker's
        # (half-to-even) and diverges on exact half ties at the 10th
        # decimal (code-review r6)
        med = float(
            decimal.Decimal(repr(float(pdf["value"].median()))).quantize(
                decimal.Decimal("1e-9"), rounding=decimal.ROUND_HALF_UP
            )
        )
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "median_value": [med],
                "n": [len(pdf)],
            }
        )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return map_reduce_df(
        ev,
        None,
        median_group,
        intermediate_schema="user_id bigint, value double",
        output_schema="user_id bigint, median_value double, n bigint",
        key_cols="user_id",
    )


@register(
    "mr_multi_emit_extremes",
    oracle="""
    SELECT event_type, 'min' AS stat, min(value) AS value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 'max' AS stat, max(value) AS value
    FROM events GROUP BY event_type
    """,
)
def mr_multi_emit_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce emitting MULTIPLE output rows per group (emit3 called
    more than once — MapReduceClient.h:78): one min row + one max row
    per event type, via the generic RDD path."""

    def type_map(_k, row):
        yield (row.event_type, row.value)

    def extremes_reduce(key, values):
        yield (key, "min", min(values))
        yield (key, "max", max(values))

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = run_map_reduce(ev, type_map, extremes_reduce)
    return spark.createDataFrame(
        out, schema="event_type string, stat string, value double"
    )


@register(
    "mr_zero_emit_filter",
    oracle="""
    SELECT user_id, count(*) AS n_big_errors
    FROM events
    WHERE event_type = 'error' AND value > 150
    GROUP BY user_id
    """,
)
def mr_zero_emit_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map emitting ZERO pairs for most inputs (filter semantics —
    MapReduceClient.h:69 'any number of times', including none)."""

    def filter_map(_k, row):
        if row.event_type == "error" and row.value > 150:
            yield (row.user_id, 1)

    def count_reduce(key, values):
        yield (key, sum(values))

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    out = run_map_reduce(ev, filter_map, count_reduce)
    return spark.createDataFrame(out, schema="user_id bigint, n_big_errors bigint")


@register(
    "mr_sink_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def mr_sink_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parity API's 100-TB escape hatch (VERDICT r12 item 3)
    driven through the driver contract: ``run_map_reduce_async(sink=)``
    writes the output pairs executor-side as parquet — the driver
    never materializes the result (the reference's caller-owned output
    vector, MapReduceFramework.cpp:296-303, is the COLLECT default;
    sink is the scale variant) — then the query returns the parquet
    read back. ``sink_schema`` makes the write a strict single pass.
    Same oracle as mr_generic_wordcount: the transport must not change
    the answer."""
    import atexit
    import shutil
    import tempfile

    from map_reduce_library_spark.core.job import run_map_reduce_async

    def tokenize_map(_k, row):
        for w in row.text.split(" "):
            yield (w, 1)

    def sum_reduce(key, values):
        yield (key, sum(values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    base = tempfile.mkdtemp(prefix="mr_sink_wordcount_")
    # the returned DataFrame reads these files lazily, so cleanup must
    # outlive the query call — reclaim at interpreter exit, not here
    # (code-review r13: repeated runs accumulated /tmp parquet)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    sink = base + "/out"
    handle = run_map_reduce_async(
        spark, docs, tokenize_map, sum_reduce,
        sink=sink, sink_schema="word string, cnt bigint",
    )
    handle.close_job_handle()
    return spark.read.parquet(sink)
