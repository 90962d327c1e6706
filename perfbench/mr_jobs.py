"""The ``mr_api`` workload: the paper's generic MapReduce API on
generated inputs, each output checked against a pure-Python answer.

Inputs come from the run's seed in two shapes: ``skewed`` (few
distinct keys with Zipf frequencies) and ``wide`` (many distinct keys).
Each shape holds word-count lines and keyed integer values. The six
job kinds are:

- ``hash``: word count, ``run_map_reduce(key_mode='hash')``;
- ``hash_combiner``: the same with ``combiner_fn``;
- ``sort``: word count, ``key_mode='sort'``;
- ``async_exact``: holistic median per key through
  ``run_map_reduce_async(..., exact_reduce_keys=True)``, polled with
  ``get_job_state`` until it ends;
- ``df_map``: ``map_reduce_df`` median with an explicit flat-map;
- ``df_identity``: ``map_reduce_df`` median with ``map_batches=None``.

One pass (``PASS``) runs every kind once, the shapes alternating, so a
combiner or shuffle change that helps one shape and hurts the other
shows in the pass.
"""

from __future__ import annotations

import operator
import random
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

SHAPES = {
    # name: (lines, words per line, vocabulary, zipf exponent,
    #        keyed values, distinct value keys)
    "skewed": (2000, 12, 40, 1.6, 16000, 8),
    "wide": (2000, 12, 12000, 1.05, 16000, 400),
}
PASS = (
    ("hash", "skewed"), ("hash_combiner", "wide"),
    ("sort", "skewed"), ("async_exact", "wide"),
    ("df_map", "skewed"), ("df_identity", "wide"),
)
POLL_INTERVAL_S = 0.02


def split_words(_key, line):
    for word in line.split(" "):
        yield word, 1


def sum_counts(key, counts):
    yield key, sum(counts)


def emit_value(_key, kv):
    yield kv[0], kv[1]


def median_values(key, values):
    yield key, float(statistics.median(values))


def df_flat_map(batches):
    for pdf in batches:
        yield pdf[["k", "v"]]


def df_median(pdf):
    import pandas as pd

    return pd.DataFrame({"k": [pdf["k"].iloc[0]], "m": [float(pdf["v"].median())]})


def _zipf_sampler(rng: random.Random, n: int, s: float):
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    return lambda k: rng.choices(range(n), weights=weights, k=k)


@dataclass
class ShapeInput:
    """One shape's generated input and its expected outputs."""

    name: str
    lines: list = field(repr=False)
    pairs: list = field(repr=False)
    word_counts: dict = field(repr=False)
    medians: dict = field(repr=False)
    frame: object = field(default=None, repr=False)


def make_inputs(seed: int) -> list[ShapeInput]:
    out = []
    for i, (name, (n_lines, width, vocab, s, n_vals, n_keys)) in enumerate(
        SHAPES.items()
    ):
        rng = random.Random(seed * 1009 + i)
        words = _zipf_sampler(rng, vocab, s)
        lines = [
            (None, " ".join(f"w{w}" for w in words(width)))
            for _ in range(n_lines)
        ]
        keys = _zipf_sampler(rng, n_keys, s)(n_vals)
        pairs = [(None, (f"k{k}", rng.randrange(1_000_000))) for k in keys]
        by_key: dict = {}
        for _, (k, v) in pairs:
            by_key.setdefault(k, []).append(v)
        out.append(ShapeInput(
            name=name,
            lines=lines,
            pairs=pairs,
            word_counts=dict(Counter(w for _, ln in lines for w in ln.split(" "))),
            medians={k: float(statistics.median(v)) for k, v in by_key.items()},
        ))
    return out


def attach_frames(spark, inputs: list[ShapeInput]) -> None:
    """Build each shape's DataFrame once, outside the timed region."""
    import pandas as pd

    for shape in inputs:
        pdf = pd.DataFrame(
            [kv for _, kv in shape.pairs], columns=["k", "v"]
        ).astype({"v": "int64"})
        shape.frame = spark.createDataFrame(pdf)


@dataclass
class JobResult:
    ok: bool
    detail: str
    call_s: float = 0.0
    action_s: float = 0.0
    pairs: dict = field(default_factory=dict)
    async_stats: dict = field(default_factory=dict)


def _pairs_from(counters) -> dict:
    return {
        "pairs_in": counters.mapped.value,
        "pairs_emitted": counters.emitted.value,
        "pairs_shuffled": counters.shuffled.value,
        "pairs_reduced": counters.reduced.value,
        "keys": counters.keys.value,
    }


def _check_pairs(got: list, want: dict) -> tuple[bool, str]:
    got_map = dict(got)
    if len(got_map) != len(got):
        return False, "duplicate output keys"
    if got_map != want:
        return False, f"{len(got_map)} keys differ from expected {len(want)}"
    return True, ""


def run_job(spark, job: str, shape: ShapeInput, parts: int) -> JobResult:
    """Run one job of the mix; returns the checked outcome and the
    time spent in the API call and in the action."""
    from map_reduce_library_spark.core.job import Stage, run_map_reduce_async
    from map_reduce_library_spark.core.mapreduce import (
        PairCounters,
        map_reduce_df,
        run_map_reduce,
    )

    if job in ("hash", "hash_combiner", "sort"):
        counters = PairCounters(spark, len(shape.lines))
        t0 = time.perf_counter()
        rdd = run_map_reduce(
            shape.lines, split_words, sum_counts, spark=spark,
            num_partitions=parts, key_mode="sort" if job == "sort" else "hash",
            combiner_fn=operator.add if job == "hash_combiner" else None,
            counters=counters,
        )
        t1 = time.perf_counter()
        got = rdd.collect()
        t2 = time.perf_counter()
        if counters.cached_intermediate is not None:
            counters.cached_intermediate.unpersist()
        ok, detail = _check_pairs(got, shape.word_counts)
        return JobResult(ok, detail, t1 - t0, t2 - t1, _pairs_from(counters))

    if job == "async_exact":
        t0 = time.perf_counter()
        handle = run_map_reduce_async(
            spark, shape.pairs, emit_value, median_values,
            num_partitions=parts, exact_reduce_keys=True,
        )
        t1 = time.perf_counter()
        poll_times, states = [], []
        while not handle.done:
            p0 = time.perf_counter()
            states.append(handle.get_job_state())
            poll_times.append(time.perf_counter() - p0)
            time.sleep(POLL_INTERVAL_S)
        got = handle.wait_for_job()
        t2 = time.perf_counter()
        final = handle.get_job_state()
        states.append(final)
        # JobState must never go backwards: stage, then percentage
        regressions = sum(
            (b.stage, b.percentage) < (a.stage, a.percentage)
            for a, b in zip(states, states[1:])
        )
        handle.close_job_handle()
        ok, detail = _check_pairs(got, shape.medians)
        if ok and (final.stage != Stage.REDUCE or final.percentage != 100.0
                   or final.failed):
            ok, detail = False, f"final state {final}"
        if ok and handle.counters.key_total != len(shape.medians):
            ok, detail = False, f"key_total {handle.counters.key_total}"
        return JobResult(
            ok, detail, t1 - t0, t2 - t1, _pairs_from(handle.counters),
            {"start_s": t1 - t0, "wait_s": t2 - t1, "polls": len(poll_times),
             "poll_times": poll_times, "regressions": regressions},
        )

    if job in ("df_map", "df_identity"):
        t0 = time.perf_counter()
        out = map_reduce_df(
            shape.frame,
            df_flat_map if job == "df_map" else None,
            df_median,
            intermediate_schema="k string, v long",
            output_schema="k string, m double",
            key_cols="k",
        )
        t1 = time.perf_counter()
        got = [(r["k"], r["m"]) for r in out.collect()]
        t2 = time.perf_counter()
        ok, detail = _check_pairs(got, shape.medians)
        return JobResult(ok, detail, t1 - t0, t2 - t1)

    raise ValueError(f"unknown job {job!r}")
