"""Master-URL resolution (session._resolve_master) — pure logic,
no session creation. ADVICE r9: a leftover `export MASTER=...` under
a plain `python app.py` must become the builder's master (Spark 4
does not read the env var), not a skipped .master() that fails with
'A master URL must be set'."""

from __future__ import annotations

from map_reduce_library_spark.session import _resolve_master


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
