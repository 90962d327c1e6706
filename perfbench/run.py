#!/usr/bin/env python3
"""Benchmark of the map_reduce_library_spark package, run from the
root of a checkout:

    python3 perfbench/run.py --workload mr_api --seed 1 --seconds 10 --trace 0

Workloads (WORKLOADS.md says why each was chosen and what it runs):

- ``mr_api``: the generic MapReduce API on generated inputs
  (``mr_jobs.py``);
- ``corpus``: a fixed set of registered corpus queries, relational ones
  and ones whose DataFrame build fires jobs (``corpus.py``).

Every workload is a closed loop with one operation in flight. One run
is one fresh process: set-up (import, ``get_session``, direct
``tables.load_table`` calls, warm-up), one timed cold pass over the
operations that also checks every output, an untimed warm-up pass,
then timed warm passes until ``--seconds`` have elapsed. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the run's details: load
average at start and end, error rate, and every failed operation by
name.

Inputs and scratch files live under ``.perfbench_work/`` in the
checkout; the corpus tables are generated there once by
``datagen.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DATA_SCALE = 0.01
DATA_SEED = 0
MAX_CORES = 4
MIN_WARM_PASSES = 2


# --------------------------------------------------------------- set-up

def _prepare_environment(run_tmp: Path) -> None:
    """Point every scratch location of Spark and the package into the
    checkout, and let Python workers import the package and this
    directory. Must run before the JVM starts."""
    local = run_tmp / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    path = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(run_tmp),
        "SPARK_GRAFT_WAREHOUSE": str(run_tmp / "warehouse"),
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher's too: temp files into the checkout,
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_tmp}",
    })
    sys.path[:0] = [str(ROOT), str(HERE)]


def _ensure_data() -> str:
    target = WORK / "data" / f"sf{DATA_SCALE:g}-seed{DATA_SEED}"
    if not (target / "_COMPLETE").exists():
        subprocess.run(
            [sys.executable, str(HERE / "datagen.py"), str(WORK / "data"),
             str(DATA_SCALE), str(DATA_SEED)],
            check=True, stdout=subprocess.DEVNULL,
        )
    return str(target)


def set_up(sf_dir: str):
    """Import, session, a direct ``load_table`` call (cold, then
    memoized) and warm-up (a noop write, and a job that boots the
    Python workers); every piece timed, and the whole is the run's
    set-up time."""
    t0 = time.perf_counter()
    from map_reduce_library_spark import queries
    from map_reduce_library_spark.session import get_session
    from map_reduce_library_spark.tables import load_table

    t1 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    region = load_table(spark, sf_dir, "region")
    t3 = time.perf_counter()
    load_table(spark, sf_dir, "region")
    t4 = time.perf_counter()
    for df in (region, spark.range(64).mapInPandas(lambda it: it, "id long")):
        df.write.format("noop").mode("overwrite").save()
    t5 = time.perf_counter()
    layers = {
        "queries.import_s": t1 - t0,
        "session.get_session_s": t2 - t1,
        "tables.load_table_cold_s": t3 - t2,
        "tables.load_table_warm_s": t4 - t3,
        "setup.warmup_s": t5 - t4,
    }
    return spark, queries, t5 - t0, layers


def shut_down() -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ workloads

class MrApi:
    """The paper's API on generated inputs; every operation checks its
    output against a pure-Python answer, outside its timed region."""

    def __init__(self, spark, queries, sf_dir, seed):
        import mr_jobs

        self.spark, self.jobs = spark, mr_jobs
        self.inputs = {s.name: s for s in mr_jobs.make_inputs(seed)}
        mr_jobs.attach_frames(spark, list(self.inputs.values()))
        self.parts = int(os.environ["SPARK_GRAFT_CPUS"])

    def order(self, pass_no: int) -> list[str]:
        return [f"{job}@{shape}" for job, shape in self.jobs.PASS]

    def run_op(self, op: str, pass_no: int, tag: str, store) -> dict:
        job, shape = op.split("@")
        t0 = time.perf_counter()
        res = self.jobs.run_job(self.spark, job, self.inputs[shape], self.parts)
        rec = {"seconds": time.perf_counter() - t0, "ok": res.ok,
               "detail": res.detail, "call_s": res.call_s,
               "action_s": res.action_s, "exec_s": res.action_s}
        rec.update(res.pairs)
        if res.async_stats:
            rec["async"] = res.async_stats
        return rec

    def close(self) -> None:
        pass


class Corpus:
    """Registered queries as operations. In the cold pass each query's
    rows are also collected and compared with its DuckDB oracle,
    outside the timed region."""

    def __init__(self, spark, queries, sf_dir, seed):
        import corpus

        self.spark, self.sf_dir, self.corpus = spark, sf_dir, corpus
        self.queries, self.oracles = queries.QUERIES, queries.ORACLES
        self.names = list(corpus.RELATIONAL + corpus.EAGER_BUILD)
        self.rng = random.Random(seed)
        self.con = corpus.oracle_connection(sf_dir)

    def order(self, pass_no: int) -> list[str]:
        """The cold pass runs in the fixed order, so which query pays
        the session's first-use costs never varies; the seed permutes
        every warm pass."""
        if pass_no == 0:
            return list(self.names)
        return self.rng.sample(self.names, len(self.names))

    def run_op(self, op: str, pass_no: int, tag: str, store) -> dict:
        rec, df = self.corpus.run_query(
            self.spark, self.queries, self.sf_dir, op, tag, store
        )
        why = None
        if pass_no == 0:
            why = self.corpus.check(self.con, self.oracles[op], df)
        rec.update(ok=why is None, detail=why or "")
        return rec

    def close(self) -> None:
        self.con.close()


WORKLOADS = {"mr_api": MrApi, "corpus": Corpus}


# ------------------------------------------------------------ measuring

def run_pass(workload, pass_no: int, store, failures: dict) -> dict:
    """One pass over the workload's operations; with a ``store``, also
    the pass's status-store totals and the time the trace itself took."""
    mark = store.mark() if store is not None else None
    ops = []
    for i, op in enumerate(workload.order(pass_no)):
        t0 = time.perf_counter()
        try:
            rec = workload.run_op(op, pass_no, f"{pass_no}-{i}", store)
        except Exception as exc:  # noqa: BLE001 — reported by name
            # a failed operation keeps the time it took to fail
            rec = {"seconds": time.perf_counter() - t0, "ok": False,
                   "detail": f"{type(exc).__name__}: {str(exc)[:200]}"}
        rec["op"] = op
        if not rec["ok"]:
            failures[f"{op} (pass {pass_no})"] = rec["detail"]
        ops.append(rec)
    out = {"ops": ops, "seconds": sum(r["seconds"] for r in ops)}
    if store is not None:
        t0 = time.perf_counter()
        out["stages"] = store.stage_totals_since(mark)
        out["python"] = store.python_totals_since(mark)
        out["pinned"] = store.pinned()
        out["trace_s"] = time.perf_counter() - t0 + sum(
            r.get("trace_s", 0.0) for r in ops
        )
    return out


def measure(workload, seconds: float, store) -> dict:
    """The cold pass, one untimed warm-up pass (the second run of each
    operation is still markedly slower and steadies nothing), then warm
    passes for ``seconds``. With a ``store`` every timed pass is
    traced."""
    failures: dict = {}
    cold = run_pass(workload, 0, store, failures)
    warm_up = run_pass(workload, 1, None, failures)
    warm = []
    start = time.perf_counter()
    while (time.perf_counter() - start < seconds
           or len(warm) < MIN_WARM_PASSES):
        warm.append(run_pass(workload, len(warm) + 2, store, failures))
    n_ops = sum(len(p["ops"]) for p in [cold, warm_up, *warm])
    return {"cold": cold, "warm": warm, "failures": failures,
            "attempted": n_ops, "failed": len(failures)}


def end_to_end(setup_s: float, m: dict) -> dict:
    """``warm_pass_s`` sums each operation's median over the warm
    passes, so one slow operation in one pass moves it less than a
    median of whole-pass sums would."""
    by_op: dict = {}
    for p in m["warm"]:
        for r in p["ops"]:
            by_op.setdefault(r["op"], []).append(r["seconds"])
    op_times = [t for times in by_op.values() for t in times]
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (m["cold"]["seconds"], "s"),
        "warm_pass_s": (sum(statistics.median(t) for t in by_op.values()), "s"),
        "ops_per_s": (len(op_times) / sum(op_times), "1/s"),
    }


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(setup_layers: dict, m: dict, load: tuple) -> dict:
    """Per-layer metrics of a traced run. Values are per warm pass (the
    mean over the run's warm passes), of the cold pass (``_cold``), or
    per async job (``core.job.*``)."""
    import corpus
    import layers

    cold, warm = m["cold"], m["warm"]
    out = {k: (v, "s") for k, v in setup_layers.items()}

    def op_sum(p, key, fam=None):
        return sum(r.get(key, 0.0) for r in p["ops"]
                   if fam is None or r.get("family") == fam)

    def per_pass(key, fam=None):
        return _mean(op_sum(p, key, fam) for p in warm)

    warm_s = _mean(p["seconds"] for p in warm)
    build_warm, build_cold = per_pass("build_s"), op_sum(cold, "build_s")
    out.update({
        "querydefs.build_s": (build_warm, "s"),
        "querydefs.build_jobs": (per_pass("build_jobs"), "count"),
        "querydefs.build_s_cold": (build_cold, "s"),
        "querydefs.build_jobs_cold": (op_sum(cold, "build_jobs"), "count"),
        "querydefs.build_share_cold": (build_cold / cold["seconds"], "ratio"),
        "querydefs.build_share_warm": (build_warm / warm_s, "ratio"),
    })
    for fam in corpus.FAMILIES:
        out[f"querydefs.{fam}.build_s"] = (per_pass("build_s", fam), "s")
        out[f"querydefs.{fam}.build_s_cold"] = (
            op_sum(cold, "build_s", fam), "s")
    out["spark.plan_s"] = (per_pass("plan_s"), "s")
    out["spark.exec_s"] = (per_pass("exec_s"), "s")
    for name in layers.STAGE_METRICS:
        unit = ("s" if name.endswith("_s") else
                "bytes" if name.endswith("_bytes") else "count")
        out[name] = (_mean(p["stages"][name] for p in warm), unit)
        if name in ("spark.jobs", "spark.stages", "spark.tasks"):
            out[f"{name}_cold"] = (cold["stages"][name], unit)
    for name in layers.PYTHON_METRICS:
        out[name] = (_mean(p["python"][name] for p in warm),
                     "s" if name.endswith("_s") else "bytes")

    out["core.mapreduce.call_s"] = (per_pass("call_s"), "s")
    out["core.mapreduce.action_s"] = (per_pass("action_s"), "s")
    for key in ("pairs_in", "pairs_emitted", "pairs_shuffled",
                "pairs_reduced", "keys"):
        out[f"core.mapreduce.{key}"] = (per_pass(key), "count")
    emitted = out["core.mapreduce.pairs_emitted"][0]
    out["core.mapreduce.shuffle_ratio"] = (
        out["core.mapreduce.pairs_shuffled"][0] / emitted if emitted else 0.0,
        "ratio")
    out["core.mapreduce.shuffle_ratio_base"] = (emitted, "count")
    out["core.mapreduce.pairs_per_s"] = (
        out["core.mapreduce.pairs_in"][0] / warm_s, "1/s")

    jobs = [r["async"] for p in warm for r in p["ops"] if "async" in r]
    polls = [t for j in jobs for t in j["poll_times"]]
    out.update({
        "core.job.start_s": (_mean(j["start_s"] for j in jobs), "s"),
        "core.job.poll_s_p50": (statistics.median(polls) if polls else 0.0, "s"),
        "core.job.polls": (_mean(j["polls"] for j in jobs), "count"),
        "core.job.wait_s": (_mean(j["wait_s"] for j in jobs), "s"),
        # over every pass, the cold one too: any regression is a defect
        "core.job.state_regressions": (float(sum(
            r["async"]["regressions"] for p in [cold, *warm] for r in p["ops"]
            if "async" in r)), "count"),
    })
    pinned = warm[-1]["pinned"]
    out["spark.persisted_rdds"] = (pinned["spark.persisted_rdds"], "count")
    out["spark.pinned_bytes"] = (pinned["spark.pinned_bytes"], "bytes")
    out["trace_overhead"] = (
        sum(p["trace_s"] for p in warm) / sum(p["seconds"] for p in warm),
        "ratio")
    out["host.loadavg_start"] = (load[0], "load")
    out["host.loadavg_end"] = (load[1], "load")
    return out


# ------------------------------------------------------------------ main

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "map_reduce_library_spark" / "__init__.py").is_file():
        print(f"perfbench: no map_reduce_library_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sf_dir = _ensure_data()
    run_tmp = WORK / "tmp" / f"run-{os.getpid()}"
    _prepare_environment(run_tmp)
    load_start = os.getloadavg()[0]
    factory = WORKLOADS[args.workload]
    try:
        spark, queries, setup_s, setup_layers = set_up(sf_dir)
        workload = factory(spark, queries, sf_dir, args.seed)
        store = None
        if args.trace:
            from layers import StatusStore

            store = StatusStore(spark)
        try:
            m = measure(workload, args.seconds, store)
        finally:
            workload.close()
    finally:
        if "pyspark" in sys.modules:
            shut_down()
        shutil.rmtree(run_tmp, ignore_errors=True)
    load_end = os.getloadavg()[0]
    if args.trace:
        metrics = per_layer(setup_layers, m, (load_start, load_end))
    else:
        metrics = end_to_end(setup_s, m)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "error_rate": m["failed"] / m["attempted"],
        "failures": m["failures"],
        "pass_s": [round(p["seconds"], 3) for p in [m["cold"], *m["warm"]]],
    }))
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
