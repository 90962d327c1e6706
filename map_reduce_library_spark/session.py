"""SparkSession factory tuned for both local testing and large clusters.

The defaults here are chosen for the 100-TB design stance:

- AQE on (runtime re-plan: coalesce small shuffle partitions, convert
  sort-merge joins to broadcast when a side turns out small, split
  skewed partitions).
- Arrow on (every pandas-UDF / applyInPandas boundary is Arrow-batched,
  never row-at-a-time pickling).
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster this is overridden by AQE's coalescing with
  ``adaptive.coalescePartitions`` anyway, so a high initial value is
  safe.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle byte-for-byte.
- On a single-JVM local master, Python workers, the accumulator server
  and the local-data paths of ``collect``/``createDataFrame`` talk to
  the JVM over Unix domain sockets instead of loopback TCP
  (``_python_socket_conf``). Over TCP every Python task stalled about
  40 ms, Linux's minimum delayed-ACK timeout, before its data arrived;
  on a 4-vCPU host (``local[4]``) the executor run time of a 4-task
  Python RDD job fell from 0.21-0.27 to 0.05-0.06 s, and of a 4-task
  Arrow ``mapInPandas`` from 0.24 to 0.09-0.10 s. Other masters keep
  TCP unless the deployment sets both keys itself.
"""

from __future__ import annotations

import os
import re
import socket
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "map-reduce-library-spark"


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


# Spark's documented default for spark.sql.shuffle.partitions.
_SPARK_SHUFFLE_PARTITIONS_DEFAULT = 200


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as a positive
    int. A deployment may set a non-integer there (``auto`` lets the
    platform choose); code that needs a number then gets Spark's own
    default, 200, instead of a ValueError."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return _SPARK_SHUFFLE_PARTITIONS_DEFAULT
    return n if n > 0 else _SPARK_SHUFFLE_PARTITIONS_DEFAULT


# Masters whose driver and executors share one JVM, so one directory
# on this host holds every socket: local, local[N], local[*],
# local[N,F] (Spark's own local-master patterns).
_SINGLE_JVM_MASTER = re.compile(r"local(\[(\d+|\*)(\s*,\s*\d+)?\])?")
# Spark names its socket files <dir>/.<uuid4>.sock (Python side, 43
# bytes after <dir>) and <dir>/<uuid>.sock (JVM side); sun_path holds
# at most 107 bytes on Linux.
_MAX_SOCKET_DIR_BYTES = 107 - 43
_FALLBACK_SOCKET_DIR = "/tmp"


def _python_socket_conf(
    master: str | None, temp_dir: str | None = None
) -> dict[str, str]:
    """Spark conf that puts the JVM<->Python sockets of a single-JVM
    local master on Unix domain sockets, or ``{}`` to keep TCP.

    The socket directory is ``temp_dir`` (default
    ``tempfile.gettempdir()``), else ``/tmp``, the first that is
    writable and short enough for a socket path; with neither, TCP
    stays, because an over-long path fails session start in the
    accumulator server (``AF_UNIX path too long``). Any other master
    gets ``{}``: there the executors' temp directory is not known at
    driver time, so a deployment that wants this transport sets both
    keys itself."""
    if (
        master is None
        or not _SINGLE_JVM_MASTER.fullmatch(master)
        or not hasattr(socket, "AF_UNIX")
    ):
        return {}
    for d in (temp_dir or tempfile.gettempdir(), _FALLBACK_SOCKET_DIR):
        if len(os.fsencode(d)) <= _MAX_SOCKET_DIR_BYTES and os.access(
            d, os.W_OK | os.X_OK
        ):
            return {
                "spark.python.unix.domain.socket.enabled": "true",
                "spark.python.unix.domain.socket.dir": d,
            }
    return {}


def _resolve_master(
    master: str | None, managed: bool | None = None
) -> str | None:
    """Decide the builder's master URL (None = leave unset for an
    externally managed deployment).

    spark-submit detection must NOT rely on SparkConf() alone: in a
    fresh python process (no JVM yet) SparkConf is a plain python
    dict that never sees the submit-time spark.master system
    property, so the r6 guard was blind exactly under
    `spark-submit --master yarn app.py` and would have overridden
    the cluster master with local[*] (code-review r8). spark-submit
    launches python drivers through PythonRunner, which always
    exports PYSPARK_GATEWAY_PORT — treat that (or a JVM-visible
    spark.master) as "master is externally managed".

    The classic MASTER env override is DIFFERENT: Spark 4's
    SparkSession does not read it, so merely skipping .master() made
    a plain `python app.py` with a leftover `export MASTER=...` fail
    with 'A master URL must be set' (ADVICE r9). Pass the value
    through to the builder so the override actually takes effect."""
    from pyspark import SparkConf

    if master is not None:
        return master
    if managed is None:
        # NOTE: once any session exists in this process, the JVM
        # carries spark.master and the conf check reads True — which
        # is the right answer (getOrCreate will reuse that session),
        # but unit tests of the cold-start paths inject managed=False.
        managed = (
            "PYSPARK_GATEWAY_PORT" in os.environ
            or SparkConf().contains("spark.master")
        )
    if managed:
        return None
    env_master = os.environ.get("MASTER")
    if env_master:
        return env_master
    # SPARK_GRAFT_CPUS is validated like _default_parallelism does —
    # a malformed value interpolated raw into the URL fails session
    # creation ('local[abc]') or hangs it ('local[0]').
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    n = None
    if cpus:
        try:
            n = int(cpus)
        except ValueError:
            n = None
        if n is not None and n < 1:
            n = None
    return f"local[{n}]" if n else "local[*]"


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster pass ``None`` and set the master through ``spark-submit``
    (an existing session is reused as-is).
    """
    par = _default_parallelism()
    master = _resolve_master(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(par, 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs run Arrow-batched (ArrowEvalPythonUDTF), never
        # row-at-a-time pickling; audited corpus-wide in
        # tests/test_plan_smells.py.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which the reader
        # rejects unless read as int64 (tables.load_table then truncates
        # ns→µs, matching DuckDB). Set here so readers never have to
        # mutate a session we built; externally-built sessions (the
        # correctness driver's) get the same flag idempotently from
        # tables._ensure_nanos_conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's ChecksumCheckpointFileManager writes a checksum
        # sidecar for every streaming-checkpoint file and BLOCKS each
        # state-store commit on it (driver thread dumps during the
        # streaming corpus showed executor tasks parked in
        # ChecksumCheckpointFileManager.awaitResult; guide §7.3).
        # Measured on the hourly-window drain at sf0.1: state commit
        # time 9.2-20.7 s summed across 32 partitions with checksums
        # vs 3.5-6.0 s without — ~0.7 s wall per streaming query.
        # This corpus' streaming surface is bounded availableNow
        # drains into throwaway uuid-named checkpoints, where
        # cross-restart corruption detection buys nothing, so the
        # default is off; long-lived production pipelines that want
        # the 4.1 integrity check back set SPARK_GRAFT_CKPT_CHECKSUM=
        # true (pre-4.1 Spark never had checkpoint checksums, so off
        # is also the long-standing production behavior).
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split small files across all cores: minPartitionNum is a
        # floor, so it raises local parallelism on MB-scale test files
        # without touching the 128 MB maxPartitionBytes that governs
        # real 100-TB scans.
        .config("spark.sql.files.minPartitionNum", str(par))
    )
    from pyspark import SparkConf

    # master is non-None for every path except externally-managed
    # deployments (_resolve_master folds the MASTER env through)
    effective_master = (
        master
        if master is not None
        else SparkConf().get("spark.master", "")
    )
    if effective_master.startswith("local"):
        # The 4 MB default openCostInBytes models remote-FS open
        # latency and caps MB-scale local files at ~3 splits; local
        # SSD opens are ~free, so lower it to actually reach the
        # minPartitionNum floor. Cluster deployments keep the default.
        builder = builder.config(
            "spark.sql.files.openCostInBytes", str(128 * 1024)
        )
    builder = (
        builder
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mrls-warehouse"),
        )
    )
    # extra_conf comes last, so a caller can still turn the transport off
    for k, v in {
        **_python_socket_conf(effective_master),
        **(extra_conf or {}),
    }.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
