"""The corpus workload: registered queries run as operations.

One operation builds a query's DataFrame (``QUERIES[name](spark,
sf_dir)``) and materialises it with a noop write. The build and the
write run under their own job groups, so jobs a build fires (index
builds, checkpoints, streaming drains) are told apart from execution.
Correctness is checked once per query per run, outside the timed
region: the built DataFrame's collected rows are compared with the
query's DuckDB oracle on the same parquet, cell by cell after
``tools/drive_entry.norm``.
"""

from __future__ import annotations

import time

# Every sixth of the 71 oracle-backed queries registered from the
# querydefs/relational*.py modules, in name order.
RELATIONAL = (
    "above_avg_orders",
    "correlated_above_customer_avg",
    "disjunctive_predicate_revenue",
    "forecast_revenue_change",
    "important_part_value",
    "listagg_nations_per_region",
    "null_handling",
    "pricing_summary",
    "rollup_order_priority",
    "shipping_priority",
    "top_supplier_revenue",
    "value_histogram",
)

# Queries whose DataFrame build fires Spark jobs, one per family. The
# IVF-PQ index builds, pagerank and the semdedup ingest also build
# eagerly, but each costs 13-20 s cold on 4 cores at this scale, more
# than a whole run's measuring budget.
EAGER_BUILD = (
    "ivf_ann_topk",               # ANN index build
    "dedup_clusters",             # shared dedup checkpoints
    "remove_repeated_spans",      # repeated spans
    "stream_static_join_counts",  # streaming drain
)

FAMILIES = ("similarity", "dedup", "streaming", "spans")


def family(fn) -> str | None:
    module = getattr(fn, "__module__", "").rsplit(".", 1)[-1]
    return module if module in FAMILIES else None


def run_query(spark, queries: dict, sf_dir: str, name: str, tag: str,
              store=None) -> tuple[dict, object]:
    """One operation: build, then a noop write. Returns its wall time
    (with ``store``, also its per-layer split) and the DataFrame."""
    sc = spark.sparkContext
    fn = queries[name]
    rec: dict = {}
    tm = time.perf_counter()
    if store is not None:
        jobs_before = store.jobs_started()
    t0 = time.perf_counter()
    sc.setJobGroup(f"perfbench-build-{tag}", name)
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    if store is not None:
        rec["build_jobs"] = store.jobs_started() - jobs_before
        p0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        rec["plan_s"] = time.perf_counter() - p0
    t2 = time.perf_counter()
    sc.setJobGroup(f"perfbench-exec-{tag}", name)
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    rec.update(seconds=(t1 - t0) + (t3 - t2), build_s=t1 - t0, exec_s=t3 - t2,
               trace_s=(t0 - tm) + (t2 - t1), family=family(fn))
    return rec, df


def _rows(values) -> list:
    from tools.drive_entry import norm

    return sorted(tuple(norm(v) for v in row) for row in values)


def oracle_connection(sf_dir: str):
    import duckdb

    from map_reduce_library_spark.tables import TABLE_NAMES, table_path

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def check(con, oracle_sql: str, df) -> str | None:
    """None when the DataFrame's rows equal the oracle's, else why not."""
    scols = sorted(df.columns)
    got = _rows([r[c] for c in scols] for r in df.collect())
    odf = con.execute(oracle_sql).df()
    ocols = sorted(odf.columns)
    want = _rows(zip(*(odf[c].tolist() for c in ocols)))
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    if got != want:
        return f"{len(got)} rows differ from the oracle's {len(want)}"
    return None
