"""Python workers skip re-reading unchanged zip archives
(``core/_zipstamp.py``): an unchanged archive is not re-read, a
rewritten one is, an ``addPyFile`` zip still imports, and workers
still need not import the package."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest
from conftest import REPO

from map_reduce_library_spark.core._zipstamp import skip_unchanged_zip_rereads

on_311 = pytest.mark.skipif(
    sys.version_info[:2] != (3, 11), reason="only CPython 3.11 is patched"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def patchable(monkeypatch):
    """Restore ``zipimporter.invalidate_caches`` after the test."""
    import zipimport

    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def test_noop_on_driver(monkeypatch, patchable):
    import zipimport

    from pyspark import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    before = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is before


@on_311
def test_unchanged_zip_not_reread_rewritten_zip_imports(
    tmp_path, monkeypatch, patchable
):
    import zipimport

    from pyspark import SparkFiles

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {
        "zs_pkg/__init__.py": "VALUE = 1\n",
        "zs_pkg/sub.py": "VALUE = 2\n",
    })
    monkeypatch.syspath_prepend(archive)
    added = ["zs_pkg", "zs_pkg.sub", "zs_new"]
    try:
        import zs_pkg.sub

        assert zs_pkg.sub.VALUE == 2
        # the archive and its package path: two importers, one archive
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive == archive
        ]
        assert len(importers) == 2

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
        skip_unchanged_zip_rereads()
        patched = zipimport.zipimporter.invalidate_caches
        skip_unchanged_zip_rereads()  # once per process
        assert zipimport.zipimporter.invalidate_caches is patched

        importlib.invalidate_caches()  # first read, shared
        assert reads.count(archive) == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {
            "zs_pkg/__init__.py": "VALUE = 1\n",
            "zs_pkg/sub.py": "VALUE = 2\n",
            "zs_new.py": "VALUE = 3\n",
        })
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import zs_new

        assert zs_new.VALUE == 3
    finally:
        for name in added:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if archive in k]:
            del sys.path_importer_cache[key]


def _run_child(src: str, cwd) -> dict:
    """Run ``src`` in a fresh interpreter from ``cwd`` with no
    PYTHONPATH, so workers cannot import the package; return the
    JSON of its RESULT line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(src)],
        capture_output=True, text=True, timeout=600, env=env, cwd=cwd,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert lines, f"child produced no result:\n{proc.stderr[-3000:]}"
    return json.loads(lines[0][len("RESULT "):])


_SESSION = """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate())
    sc = spark.sparkContext
"""


@on_311
def test_reused_worker_skips_rereads_and_sees_added_pyfile(tmp_path):
    """After one run_map_reduce every worker of a fresh application
    has the patch; a later task's invalidate_caches() re-reads no
    archive, and a zip added by addPyFile afterwards imports."""
    late_zip = str(tmp_path / "late_mod.zip")
    src = _SESSION.format(repo=str(REPO)) + f"""
    import zipfile
    from map_reduce_library_spark import run_map_reduce

    out = run_map_reduce(
        [(None, i) for i in range(40)],
        lambda k, v: [(v % 4, 1)],
        lambda k, vs: [(k, sum(vs))],
        spark=spark, num_partitions=2,
    ).collect()

    def probe(_):
        import importlib, zipimport
        reads = []
        read_directory = zipimport._read_directory
        def counting(path):
            reads.append(path)
            return read_directory(path)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        patched = hasattr(zipimport.zipimporter.invalidate_caches, "stamps")
        yield patched, reads

    # one task: it runs on an idle worker, all of which ran the job
    [(patched, reads)] = sc.parallelize([0], 1).mapPartitions(probe).collect()

    with zipfile.ZipFile({late_zip!r}, "w") as zf:
        zf.writestr("late_mod.py", "VALUE = 42\\n")
    sc.addPyFile({late_zip!r})

    def use(_):
        import late_mod
        yield late_mod.VALUE

    late = sc.parallelize([0], 1).mapPartitions(use).collect()
    print("RESULT " + json.dumps({{
        "out": sorted(out), "patched": patched, "reads": reads,
        "late": late,
    }}))
    spark.stop()
    """
    r = _run_child(src, tmp_path)
    assert r["out"] == [[k, 10] for k in range(4)]
    assert r["patched"] is True
    assert r["reads"] == []
    assert r["late"] == [42]


def test_workers_need_not_import_the_package(tmp_path):
    """From a directory outside the checkout, with no PYTHONPATH, every
    shipped function unpickles on workers: hash, combiner, sort and
    exact-keys run_map_reduce, and map_reduce_df with and without a
    map phase."""
    src = _SESSION.format(repo=str(REPO)) + """
    import pandas as pd
    from map_reduce_library_spark import PairCounters, run_map_reduce
    from map_reduce_library_spark.core import map_reduce_df

    data = [(None, i) for i in range(60)]
    mapper = lambda k, v: [(v % 6, 1)]
    reducer = lambda k, vs: [(k, sum(vs))]
    res = {}
    res["hash"] = run_map_reduce(data, mapper, reducer, spark=spark,
                                 num_partitions=3).collect()
    res["combiner"] = run_map_reduce(
        data, mapper, reducer, spark=spark, num_partitions=3,
        combiner_fn=lambda a, b: a + b).collect()
    res["sort"] = run_map_reduce(data, mapper, reducer, spark=spark,
                                 num_partitions=3, key_mode="sort").collect()
    c = PairCounters(spark, input_total=len(data))
    res["exact"] = run_map_reduce(
        data, mapper, reducer, spark=spark, num_partitions=3,
        key_mode="sort", counters=c, exact_reduce_keys=True).collect()
    c.cached_intermediate.unpersist()

    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(12)], "k long, v double")
    reduce_group = lambda pdf: pd.DataFrame(
        {"k": [int(pdf.k.iloc[0])], "s": [float(pdf.v.sum())]})
    res["df_identity"] = [tuple(r) for r in map_reduce_df(
        df, None, reduce_group, intermediate_schema="k long, v double",
        output_schema="k long, s double", key_cols="k").collect()]
    double = lambda it: (pdf.assign(v=pdf.v * 2) for pdf in it)
    res["df_map"] = [tuple(r) for r in map_reduce_df(
        df, double, reduce_group, intermediate_schema="k long, v double",
        output_schema="k long, s double", key_cols="k").collect()]
    res = {k: sorted(v) for k, v in res.items()}
    res["key_total"] = c.key_total
    print("RESULT " + json.dumps(res))
    spark.stop()
    """
    r = _run_child(src, tmp_path)
    pairs = [[k, 10] for k in range(6)]
    for mode in ("hash", "combiner", "sort", "exact"):
        assert r[mode] == pairs, mode
    assert r["key_total"] == 6
    sums = {k: sum(float(i) for i in range(12) if i % 3 == k) for k in range(3)}
    assert r["df_identity"] == [[k, sums[k]] for k in range(3)]
    assert r["df_map"] == [[k, 2 * sums[k]] for k in range(3)]
