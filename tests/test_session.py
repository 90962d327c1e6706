"""Session factory: master-URL resolution (session._resolve_master)
and the JVM<->Python socket transport (session._python_socket_conf),
as pure logic, plus the sessions that transport must start.

A leftover `export MASTER=...` under a plain `python app.py` must
become the builder's master (Spark 4 does not read the env var), not a
skipped .master() that fails with 'A master URL must be set'."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import textwrap
from pathlib import Path

import pytest

from map_reduce_library_spark import session
from map_reduce_library_spark.session import (
    _python_socket_conf,
    _resolve_master,
)

REPO = Path(__file__).resolve().parents[1]
UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
UDS_DIR = "spark.python.unix.domain.socket.dir"


def _clear(monkeypatch):
    for var in ("PYSPARK_GATEWAY_PORT", "MASTER", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(var, raising=False)


def test_explicit_master_wins(monkeypatch):
    _clear(monkeypatch)
    monkeypatch.setenv("MASTER", "spark://stale:7077")
    assert _resolve_master("local[4]", managed=False) == "local[4]"


def test_gateway_port_means_externally_managed(monkeypatch):
    """No managed= injection here: the gateway env var must trump the
    MASTER env var through the REAL detection path (it short-circuits
    before the JVM conf check, so this is deterministic whether or
    not a session already exists in-process)."""
    _clear(monkeypatch)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "50000")
    monkeypatch.setenv("MASTER", "spark://ignored:7077")
    assert _resolve_master(None) is None


def test_master_env_passes_through_to_builder(monkeypatch):
    """The ADVICE r9 regression: MASTER set, no gateway — the value
    must reach the builder instead of leaving master unset."""
    _clear(monkeypatch)
    monkeypatch.setenv("MASTER", "spark://host:7077")
    assert _resolve_master(None, managed=False) == "spark://host:7077"


def test_local_default_uses_validated_cpus(monkeypatch):
    _clear(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert _resolve_master(None, managed=False) == "local[16]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    assert _resolve_master(None, managed=False) == "local[*]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    assert _resolve_master(None, managed=False) == "local[*]"


def test_local_default_without_env(monkeypatch):
    _clear(monkeypatch)
    assert _resolve_master(None, managed=False) == "local[*]"


class _StubConf:
    def __init__(self, value):
        self.value = value

    def get(self, key, *default):
        assert key == "spark.sql.shuffle.partitions"
        return self.value


class _StubSession:
    def __init__(self, value):
        self.conf = _StubConf(value)


def test_shuffle_partitions_falls_back_on_non_integer_conf(monkeypatch):
    """A deployment may set spark.sql.shuffle.partitions to ``auto``
    (open-source Spark refuses it on a real session, hence the stub):
    callers get Spark's default instead of a ValueError, at both call
    sites that need a number."""
    from map_reduce_library_spark.session import shuffle_partitions
    from map_reduce_library_spark.streaming.events import (
        drain_shuffle_partitions,
    )

    assert shuffle_partitions(_StubSession("16")) == 16
    for bad in ("auto", "", "0", "-3", None):
        assert shuffle_partitions(_StubSession(bad)) == 200
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    assert drain_shuffle_partitions(_StubSession("auto"), "/nonexistent") == 200


@pytest.fixture
def short_tmp():
    """A fresh directory with a short path, removed afterwards."""
    with tempfile.TemporaryDirectory(dir="/tmp") as d:
        yield d


def _dir_of_bytes(base: str, n: int, tail: str = "") -> str:
    """A new directory under ``base`` whose path is exactly ``n`` bytes
    encoded, ending in ``tail`` (padded with 'p' in front of it)."""
    pad = n - len(os.fsencode(base)) - 1 - len(os.fsencode(tail))
    assert pad >= 1
    d = os.path.join(base, "p" * pad + tail)
    os.mkdir(d)
    assert len(os.fsencode(d)) == n
    return d


def _uds(d: str) -> dict[str, str]:
    return {UDS_ENABLED: "true", UDS_DIR: d}


def test_socket_conf_uses_a_temp_dir_that_fits(short_tmp):
    """64 bytes is the longest directory under which Spark's Python
    socket name (``/.<uuid4>.sock``, 43 bytes) fits Linux's 107-byte
    sun_path."""
    d = _dir_of_bytes(short_tmp, 64)
    for master in ("local", "local[4]", "local[*]", "local[2,3]", "local[*, 4]"):
        assert _python_socket_conf(master, d) == _uds(d)


@pytest.mark.parametrize("tail", ["", "é" * 20], ids=["ascii", "non_ascii"])
def test_socket_conf_falls_back_to_tmp_when_the_temp_dir_is_too_long(
    short_tmp, tail
):
    """A 65-byte directory, and one whose name is short in characters
    but over 64 bytes once encoded, go to /tmp."""
    d = _dir_of_bytes(short_tmp, 65, tail)
    if tail:
        assert len(d) <= 64
    assert _python_socket_conf("local[4]", d) == _uds("/tmp")


def test_socket_conf_keeps_tcp_when_no_directory_fits(monkeypatch, short_tmp):
    long_dir = _dir_of_bytes(short_tmp, 90)
    monkeypatch.setattr(session, "_FALLBACK_SOCKET_DIR", long_dir)
    assert _python_socket_conf("local[4]", long_dir) == {}


@pytest.mark.parametrize(
    "master",
    ["yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://https://h:443", None],
)
def test_socket_conf_is_empty_off_single_jvm_masters(master):
    """There the executors' temp directory is unknown at driver time."""
    assert _python_socket_conf(master, "/tmp") == {}


def test_shared_session_runs_python_over_unix_sockets(spark):
    """Tier-1 exercises the Python surface (workers, accumulators,
    collect, createDataFrame) on the transport local sessions use."""
    conf = spark.sparkContext.getConf()
    assert conf.get(UDS_ENABLED) == "true"
    assert conf.get(UDS_DIR)


_CHILD = textwrap.dedent("""
    import json, os
    import pandas as pd
    from map_reduce_library_spark.core import PairCounters, run_map_reduce
    from map_reduce_library_spark.session import get_session

    spark = get_session(app_name="mrls-uds-child", master="local[2]")
    conf = spark.sparkContext.getConf()
    data = [(None, i) for i in range(200)]

    def map_fn(k, v):
        yield (v % 7, v)

    def reduce_fn(k, vals):
        yield (k, sum(vals))

    c = PairCounters(spark, input_total=len(data))
    out = run_map_reduce(
        data, map_fn, reduce_fn, spark=spark, counters=c
    ).collect()
    frame = spark.createDataFrame(pd.DataFrame({"a": [3, 1, 2]})).collect()
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    def socks():
        return sorted(f for f in os.listdir(sock_dir) if f.endswith(".sock"))
    live = socks()
    spark.stop()
    print("RESULT " + json.dumps({
        "enabled": conf.get("spark.python.unix.domain.socket.enabled"),
        "dir": sock_dir,
        "out": sorted(out),
        "counters": [c.mapped.value, c.emitted.value, c.shuffled.value,
                     c.reduced.value, c.keys.value],
        "frame": sorted(r.a for r in frame),
        "live": live,
        "left": socks(),
    }))
""")


def _run_child(tmpdir: str) -> dict:
    env = dict(os.environ)
    env["TMPDIR"] = tmpdir
    env["JAVA_TOOL_OPTIONS"] = (
        env.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmpdir}"
    ).strip()
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD], capture_output=True, text=True,
        timeout=300, env=env, cwd=tmpdir,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, f"child produced no result:\n{proc.stderr[-3000:]}"
    r = json.loads(lines[0][len("RESULT "):])
    expected = sorted([k, sum(v for v in range(200) if v % 7 == k)] for k in range(7))
    assert r["out"] == expected
    assert r["counters"] == [200, 200, 200, 200, 7]
    assert r["frame"] == [1, 2, 3]
    assert r["enabled"] == "true"
    return r


def test_session_starts_when_the_temp_dir_cannot_hold_a_socket_path(short_tmp):
    """With a 90-byte TMPDIR and java.io.tmpdir, a socket under the
    temp dir would fail session start with ``AF_UNIX path too long``
    in the accumulator server; the sockets go to /tmp instead and the
    counted MapReduce and the local-data round trip stay exact."""
    r = _run_child(_dir_of_bytes(short_tmp, 90))
    assert r["dir"] == "/tmp"


def test_session_stop_leaves_no_socket_files(short_tmp):
    r = _run_child(short_tmp)
    assert r["dir"] == short_tmp
    assert r["live"], "no socket was created in the socket dir"
    assert r["left"] == []
