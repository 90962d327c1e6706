"""Persisted IVF-PQ index lifecycle: build → write → load → search →
incremental append → delete → compact → rebalance, with a writer
lease gating every maintenance op.

``pq_encode``'s relation (m small-int codes per vector) is only an
index once it OUTLIVES the session that fit it. This module gives the
IVF-PQ family the same persisted-artifact discipline the text-LSH
side already has (``streaming/emb_ingest.py`` writes its signature
index to parquet; ``operators/maintenance.compact_index`` maintains
it): the fitted index is four parquet tables under one directory,

    <path>/centroids   (cell bigint, vc array<double>, nc double)
    <path>/codebooks   (sub int, cell bigint, vc array<double>)
    <path>/cells       (vec_id, cell)          -- home cell per vector
    <path>/codes       (vec_id, sub, code, cell) -- PQ codes per vector

and a fresh session serves top-k from those tables alone — the float
corpus is touched only on the (bounded) query side. Appending new
vectors follows the FAISS ``train``-then-``add`` discipline: encode
against the FROZEN codebooks and assign against the FROZEN coarse
centroids, append to ``cells``/``codes``, never re-fit (re-training
would silently re-code the whole corpus; at 100 TB that is a rebuild,
a deliberate operation, not an append). Because each vector's cell
and codes depend only on the frozen artifacts, build(A)+append(B) is
row-identical to build(A∪B, train=A) — the convergence contract
``tests/test_ann_index.py`` pins.

At 100 TB: ``cells``/``codes`` are id-and-small-int relations (the
memory story of ``ivf_pq_topk``), HIVE-PARTITIONED BY ``cell``
(VERDICT r9 item 1) so a query's probed cells map to directory-pruned
reads — the serve path collects the (≤ n_centroids) probed cell ids
and pushes ``cell IN (...)`` into both scans as a partition filter;
files read scale with n_probe, never with the corpus
(``tests/test_ann_index.py`` asserts the numFiles scan metric;
measured 16/16 → 38/160 → 40/1600 files at 1×/10×/100× rows —
BASELINE.md §round-10). The
``codes`` table carries the home cell alongside each code row for
exactly this reason: a neighbor is only ever scored when its home
cell is probed, so its codes live under the probed directory.
``centroids``/``codebooks`` are tiny (≤ n_centroids and m×codes rows)
and broadcast at query time. All crash-protocol filesystem steps
(heal / delete renames) go through the Hadoop FileSystem API resolved
from the index path itself (ADVICE r9), so the protocol holds on
hdfs:// and s3a:// paths, not just the driver-local disk.

Reference: the reference engine (IdoSagiv/map-reduce-library) has no
vector ops — SURVEY.md §2D extension (VERDICT r8 next-round item 1).
"""

from __future__ import annotations

import posixpath
import threading
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_library_spark.operators.similarity import (
    PQ_CODES,
    PQ_ITERS,
    PQ_M,
    _dot,
    _ivf_pq_adc_topk,
    _norm,
    _prep,
    ivf_assign_cells,
    pq_codebooks,
    pq_encode,
)


class IvfPqIndex(NamedTuple):
    """The four relations of a fitted IVF-PQ index (see module doc)."""

    centroids: DataFrame
    codebooks: DataFrame
    cells: DataFrame
    codes: DataFrame


_PARTS = ("centroids", "codebooks", "cells", "codes")
_ROW_TABLES = ("cells", "codes")


# ---- Hadoop FileSystem plumbing ---------------------------------------------
# The delete/heal rename protocol used to run on os.path/os.rename
# (driver-local only); on any non-local FS healing silently no-oped and
# delete raised FileNotFoundError (ADVICE r9, medium). Every protocol
# step now resolves the FileSystem FROM THE INDEX PATH, the same way
# ``maintenance.compact_index`` does, so local/hdfs/s3a all follow the
# same rename discipline. (On object stores a directory "rename" is a
# copy inside the FS connector — still correct, just not O(1); a real
# deployment would put the index on a rename-capable store.)


def _fs(spark: SparkSession, path: str):
    """(FileSystem, jvm) for ``path`` — whatever FS the path names."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jp(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _rename_or_raise(fs, jvm, src: str, dst: str) -> None:
    """Hadoop rename signals most failures by returning false, not
    raising — a false MUST abort the protocol (a half-swapped index
    healed later beats a silently mangled one)."""
    if not fs.rename(_jp(jvm, src), _jp(jvm, dst)):
        raise IOError(f"rename {src} -> {dst} failed")


def _cell_partition_dirs(fs, jvm, table_dir: str) -> list:
    """The ``cell=<v>`` partition subdirectories of a row table (empty
    for the legacy flat layout)."""
    jpath = _jp(jvm, table_dir)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath()
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith("cell=")
    ]


# ---- Writer lease ------------------------------------------------------------
# The maintenance ops (append/delete/compact/rebalance) have always
# documented "one maintenance writer at a time", but nothing DETECTED
# a second writer — two concurrent appends of overlapping batches
# could both pass the replay guard before either wrote (VERDICT r10
# item 4). The lease converts that silent-corruption risk into a loud
# error: each op atomically creates ``<path>/_LEASE`` — on ``file://``
# via the OS's own O_CREAT|O_EXCL (Hadoop's RawLocalFileSystem
# implements ``create(overwrite=False)`` as a NON-atomic
# exists-then-create, so two racing local writers could both "win";
# ADVICE r11), on every other scheme via Hadoop's
# ``create(overwrite=false)``, which IS the atomic create-if-absent
# primitive on HDFS. Of two racing writers exactly one wins and the
# other raises. The underscore prefix keeps the file invisible to
# every Spark scan.
#
# Protocol details (round-11 review hardening):
#   * The lease CONTENT is a per-acquisition token (host, pid, uuid);
#     release deletes the file only if it still holds OUR token, so a
#     writer whose lease was reclaimed can never delete the
#     reclaimer's live lease.
#   * A crashed writer's stale lease (mtime older than LEASE_TTL_MS)
#     is reclaimed by RENAME-claim: rename the observed file aside
#     (atomic — of N reclaimers exactly one wins), re-check its mtime
#     after the rename (it may have been replaced by a FRESH lease in
#     the observe→rename window — if so, rename it back and raise),
#     then create anew.
#   * The holder HEARTBEATS the lease mtime from a daemon thread at
#     TTL/3, so an op legitimately running longer than the TTL never
#     silently loses mutual exclusion.
#   * Readers HEAL UNDER THE LEASE (ADVICE r12 — the r11 "defer to a
#     live lease" check was a racy observe-then-heal: a reader that
#     saw no lease, stalled, and resumed after a writer committed a
#     rebalance could delete the writer's freshly renamed-in cell
#     directories). ``read_ivf_pq_index`` now runs repair only after
#     ACQUIRING the lease itself, so a heal can never interleave with
#     a live op; if acquisition conflicts, the residue belongs to the
#     live writer and is served around, exactly as before. Crash
#     residue heals on the first read after the dead writer's lease
#     expires (the reclaim path makes expiry-then-acquire atomic).
#   * If the heartbeat ever observes its lease gone or replaced (TTL
#     reclaim despite heartbeating — a suspended VM), it sets a LOST
#     flag the op checks before each destructive rename/commit step
#     and aborts on, instead of silently mutating the index
#     concurrently with the reclaiming writer (ADVICE r11).

LEASE_TTL_MS = 15 * 60 * 1000

# index path -> the token of the lease THIS process currently holds
# (written by _acquire_lease, cleared by _release_lease); OWNERS maps
# the same path to the acquiring THREAD — "we hold the lease" is a
# per-thread fact for healing decisions (a reader thread in the same
# process must not piggyback on a writer thread's token and heal a
# LIVE op's residue; caught by the two-writer stress test, r12), while
# the heartbeat compares tokens only (it renews on the holder's behalf
# from its own thread by design).
_LEASE_TOKENS: dict[str, str] = {}
_LEASE_OWNERS: dict[str, int] = {}

# index path -> event set by the heartbeat thread when it detects the
# lease was reclaimed from under the running op (see _maintenance_op)
_LEASE_LOST: dict[str, "threading.Event"] = {}


class IndexWriterConflict(RuntimeError):
    """A second maintenance writer tried to operate on an index whose
    ``_LEASE`` is live. The losing writer must back off and retry
    after the holder finishes (or after the TTL, if the holder
    crashed)."""


def _lease_path(path: str) -> str:
    return posixpath.join(path, "_LEASE")


def _read_lease(fs, jvm, path: str) -> str | None:
    """Lease content, or None if absent. Persistently unreadable
    content (e.g. a checksum mismatch after an out-of-band overwrite)
    maps to a sentinel that can never equal a token: 'not ours / treat
    as foreign' is the safe answer to every caller — heartbeat stops
    renewing, release leaves it alone, and the live-lease check stays
    conservative. TRANSIENT read failures are retried first (ADVICE
    r11: one flaky RPC during release would otherwise orphan a healthy
    lease and block every maintenance writer for the full TTL); a read
    racing a delete resolves to None via the existence re-check."""
    import time

    p = _jp(jvm, _lease_path(path))
    for attempt in range(3):
        try:
            if not fs.exists(p):
                return None
            f = fs.open(p)
            try:
                return bytes(f.readAllBytes()).decode("utf-8", "replace")
            finally:
                f.close()
        except Exception:  # noqa: BLE001 — see docstring
            if attempt < 2:
                time.sleep(0.05 * (attempt + 1))
    return "<unreadable lease>"


def _acquire_lease(
    spark: SparkSession, path: str, op: str, ttl_ms: int | None = None
) -> None:
    import os
    import socket
    import time
    import uuid

    ttl_ms = LEASE_TTL_MS if ttl_ms is None else ttl_ms
    fs, jvm = _fs(spark, path)
    lease = _jp(jvm, _lease_path(path))
    try:
        st = fs.getFileStatus(lease) if fs.exists(lease) else None
    except Exception:  # noqa: BLE001
        # the holder released the lease between exists and
        # getFileStatus: claim it below like an absent one
        if fs.exists(lease):
            raise
        st = None
    if st is not None:
        age_ms = int(time.time() * 1000) - st.getModificationTime()
        if age_ms < ttl_ms:
            raise IndexWriterConflict(
                f"index at {path} has a live maintenance lease "
                f"(age {age_ms / 1000.0:.0f}s < ttl {ttl_ms / 1000.0:.0f}s); "
                f"refusing to start {op} — one maintenance writer at a "
                "time. If the holder crashed, the lease self-expires."
            )
        # crash-stale: RENAME-claim the observed file — atomic, so of
        # N concurrent reclaimers exactly one proceeds, and nobody
        # ever deletes a competitor's freshly created lease
        claim = _lease_path(path) + f".reclaim.{uuid.uuid4().hex}"
        if not fs.rename(lease, _jp(jvm, claim)):
            raise IndexWriterConflict(
                f"lost the stale-lease reclaim race for {op} on {path}"
            )
        st2 = fs.getFileStatus(_jp(jvm, claim))
        if int(time.time() * 1000) - st2.getModificationTime() < ttl_ms:
            # the stale file was replaced by a FRESH lease between our
            # staleness check and the rename — give it back
            _rename_or_raise(fs, jvm, claim, _lease_path(path))
            raise IndexWriterConflict(
                f"lease on {path} was refreshed by another writer "
                f"during reclaim; refusing to start {op}"
            )
        fs.delete(_jp(jvm, claim), False)
    token = (
        f"{op} host={socket.gethostname()} pid={os.getpid()} "
        f"token={uuid.uuid4().hex} t={int(time.time())}"
    )
    qualified = fs.makeQualified(lease)
    if qualified.toUri().getScheme() == "file":
        # RawLocalFileSystem/ChecksumFileSystem implement
        # create(overwrite=false) as a NON-atomic exists-then-create
        # (ADVICE r11) — on local paths the only real create-if-absent
        # primitive is the OS's own O_CREAT|O_EXCL, so claim directly.
        # (No .crc sidecar is written; ChecksumFileSystem reads a file
        # without one unverified, which is fine for a token compare.)
        local = qualified.toUri().getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError as e:
            raise IndexWriterConflict(
                f"lost the lease race for {op} on {path}: {e}"
            ) from e
        try:
            os.write(fd, token.encode())
        finally:
            os.close(fd)
    else:
        try:
            # overwrite=False IS the atomic claim on HDFS
            out = fs.create(lease, False)
        except Exception as e:
            # only the already-exists family is a lease race;
            # permission / quota / RPC failures must surface as
            # themselves, not as a misdirecting "back off and retry"
            # (review r11)
            msg = str(e)
            if "AlreadyExists" in msg or "already exists" in msg.lower():
                raise IndexWriterConflict(
                    f"lost the lease race for {op} on {path}: {e}"
                ) from e
            raise
        try:
            out.write(bytearray(token.encode()))
        finally:
            out.close()
    _LEASE_TOKENS[path] = token
    _LEASE_OWNERS[path] = threading.get_ident()


def _release_lease(spark: SparkSession, path: str) -> None:
    token = _LEASE_TOKENS.pop(path, None)
    _LEASE_OWNERS.pop(path, None)
    fs, jvm = _fs(spark, path)
    # delete only OUR lease: if it was reclaimed from under us (TTL
    # expiry despite the heartbeat, e.g. a suspended VM), the current
    # file belongs to the reclaimer and must survive our release
    if token is not None and _read_lease(fs, jvm, path) == token:
        fs.delete(_jp(jvm, _lease_path(path)), False)


def _heartbeat_lease_once(spark: SparkSession, path: str) -> bool:
    """Refresh the lease mtime iff we still hold it. Returns whether
    the heartbeat applied (False = our lease is gone/replaced)."""
    import time

    fs, jvm = _fs(spark, path)
    if _read_lease(fs, jvm, path) != _LEASE_TOKENS.get(path):
        return False
    now = int(time.time() * 1000)
    fs.setTimes(_jp(jvm, _lease_path(path)), now, now)
    return True


def _assert_lease_held(path: str, step: str) -> None:
    """Abort hook for the lost-lease flag (ADVICE r11): maintenance
    ops call this immediately before each destructive rename/commit
    step. If the heartbeat thread observed our lease gone or replaced
    (TTL reclaim despite heartbeating — e.g. a VM suspended longer
    than the TTL), continuing would mutate the index concurrently
    with the reclaiming writer, so the op dies loudly here instead.
    The protocol residue the abort leaves behind is exactly a crash
    state; the reclaimer (or the next lease-holding reader) heals it."""
    ev = _LEASE_LOST.get(path)
    if ev is not None and ev.is_set():
        raise IndexWriterConflict(
            f"aborting before {step} on {path}: the writer lease was "
            "reclaimed from under this op (heartbeat observed a "
            "foreign or missing lease); mutual exclusion is lost"
        )


def _maintenance_op(op_name: str):
    """Decorator gating a maintenance writer (signature
    ``(spark, path, ...)``) behind the index's writer lease. The
    lease is released on EVERY exit, including failures — a failed op
    leaves the index healable by the next reader, so holding the
    lease would only delay the repair; a CRASHED op (process death)
    leaves the lease for the TTL to expire. While the op runs, a
    daemon thread refreshes the lease mtime at TTL/3 so long ops
    never silently lose mutual exclusion (review r11). If a heartbeat
    ever finds the lease gone or replaced, it sets the op's LOST flag
    (checked via ``_assert_lease_held`` before each destructive step)
    rather than merely going quiet (ADVICE r11)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, path, *args, **kwargs):
            with _held_lease(spark, path, op_name):
                return fn(spark, path, *args, **kwargs)

        return wrapper

    return deco


@contextmanager
def _held_lease(spark: SparkSession, path: str, op_name: str):
    """Acquire the writer lease, heartbeat it at TTL/3 from a daemon
    thread (setting the LOST flag if it ever observes the lease gone
    or replaced), and release on exit. The one lease-holding pattern
    — used by every maintenance op AND by the reader's heal path
    (code-review r12: the first reader-heal cut held the lease with
    no heartbeat and no lost flag, so a heal outliving the TTL lost
    mutual exclusion silently — the exact failure class this
    machinery exists to prevent)."""
    _acquire_lease(spark, path, op_name)
    stop = threading.Event()
    lost = threading.Event()
    _LEASE_LOST[path] = lost

    def beat() -> None:
        while not stop.wait(max(LEASE_TTL_MS / 3000.0, 0.5)):
            try:
                if not _heartbeat_lease_once(spark, path):
                    lost.set()
                    return  # lease gone: nothing left to renew
            except Exception:  # noqa: BLE001 — best-effort
                pass

    t = threading.Thread(
        target=beat, name=f"lease-heartbeat-{op_name}", daemon=True
    )
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join(timeout=2.0)
        # pop only OUR event: a racing successor op on the same path
        # (acquired right after our release on another thread) must
        # keep its own lost flag
        if _LEASE_LOST.get(path) is lost:
            _LEASE_LOST.pop(path, None)
        _release_lease(spark, path)


def seed_centroids(
    emb: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic seed coarse quantizer — first ``n_centroids``
    vectors by id, exactly the fallback ``ivf_assign_cells`` derives
    internally, materialized as an explicit (cell, vc, nc) relation so
    it can be WRITTEN (a persisted index must carry its own coarse
    quantizer; deriving it from "the corpus" again in a later session
    would silently drift once vectors are appended)."""
    base = _prep(emb, id_col, vec_col)
    return base.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias("cell"),
        F.col("v").alias("vc"),
        F.col("nrm").alias("nc"),
    )


def build_ivf_pq_index(
    emb: DataFrame,
    dim: int,
    n_centroids: int = 16,
    m: int = PQ_M,
    codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    train: DataFrame | None = None,
    metadata_cols: list[str] | None = None,
) -> IvfPqIndex:
    """Fit the index over ``emb``: coarse centroids (``centroids`` if
    given, else the deterministic seed), per-subspace PQ codebooks
    Lloyd-fit on ``train`` (default: the whole corpus — pass a bounded
    sample at scale; the fit cost must not grow with the corpus), then
    one assignment + one encode pass over the full corpus. The encoded
    codes carry each vector's home cell so the persisted codes table
    can be laid out (and pruned) by cell.

    ``metadata_cols``: filterable attributes (tenant, language,
    label) carried INTO the stored ``cells`` relation — one equi-join
    against the source table at build time — so filtered search
    (``ivf_pq_search(filter_cols=...)``) prunes candidates by
    metadata inside the candidate equi-join, before any distance
    math; at warehouse scale these are secondary partition columns of
    the cells table."""
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(emb, n_centroids, id_col, vec_col)
    )
    cbs = pq_codebooks(
        train if train is not None else emb,
        dim, m, codes, iters, id_col=id_col, vec_col=vec_col,
    )
    # Materialized: the assignment feeds BOTH row tables (cells, and
    # the codes join that attaches each vector's home cell for the
    # partitioned layout) — without the checkpoint the corpus×centroid
    # crossJoin + window would execute once per table write.
    assigned = (
        ivf_assign_cells(
            emb, n_centroids, id_col, vec_col, n_probe=1, centroids=cents
        )
        .select(id_col, "cell")
        .localCheckpoint(eager=True)
    )
    cells = assigned
    if metadata_cols:
        cells = cells.join(
            emb.select(id_col, *metadata_cols), id_col
        ).select(id_col, "cell", *metadata_cols)
    enc = pq_encode(emb, cbs, dim, m, id_col, vec_col).join(
        assigned, id_col
    )
    return IvfPqIndex(cents, cbs, cells, enc)


def write_ivf_pq_index(index: IvfPqIndex, path: str) -> None:
    """Persist all four relations under ``path``. ``overwrite`` on the
    fitted artifacts (a re-write is a rebuild); the row tables write
    ``overwrite`` too — appends go through ``append_ivf_pq_index``.

    Layout: ``cells``/``codes`` are written ``partitionBy("cell")``
    after a hash ``repartition("cell")``, so each cell's rows land in
    exactly one file under its own ``cell=<v>`` directory — the probed
    cells of a search map to directory-pruned reads and the file count
    stays n_centroids per table, not tasks×cells. At a real 100 TB a
    cell exceeds one file; ``repartition(n, "cell")`` plus periodic
    ``compact_ivf_pq_index`` keep per-directory file sizes bounded
    without changing the pruning story."""
    id_col = index.codes.columns[0]
    codes = index.codes
    if "cell" not in codes.columns:
        # an index assembled by hand (or a legacy build) without the
        # home cell on the codes relation: derive it from cells
        codes = codes.join(index.cells.select(id_col, "cell"), id_col)
    for name, df in zip(_PARTS, (index.centroids, index.codebooks)):
        df.write.mode("overwrite").parquet(posixpath.join(path, name))
    for name, df in (("cells", index.cells), ("codes", codes)):
        _overwrite_cell_partitioned(df, posixpath.join(path, name))


def _overwrite_cell_partitioned(df: DataFrame, table_dir: str) -> None:
    """``partitionBy("cell")`` overwrite that can never leave a
    FILELESS table: a partitioned write of an EMPTY relation emits
    only ``_SUCCESS`` — no data files, no partition directories — and
    every later ``spark.read.parquet`` raises UNABLE_TO_INFER_SCHEMA.
    On the delete path that would brick the index AFTER the rename
    protocol completed, beyond what any healer can repair
    (code-review r10). The partitioned write runs first (no extra
    pass over ``df``); only if it produced no partition directories
    is a schema-bearing empty FLAT table written in its place —
    exactly the legacy-flat empty state, which the reader's
    cast/reorder and the layout-adaptive append both already handle
    (an emptied-then-regrown table simply continues on the flat
    layout until the next full ``write_ivf_pq_index`` rebuild).

    ``cell`` is pinned to LONG at this write boundary: a relation
    read back from the partitioned layout carries the
    narrowest-inferred INT partition column, and letting that leak
    into a flat data file makes the next long-typed append a mixed
    int/int64 parquet column the reader rejects outright."""
    spark = df.sparkSession
    df = df.withColumn("cell", F.col("cell").cast("long"))
    (
        df.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(table_dir)
    )
    fs, jvm = _fs(spark, table_dir)
    if not _cell_partition_dirs(fs, jvm, table_dir):
        # repartition(1) forces one write task; an empty LocalRelation
        # plan can otherwise schedule zero tasks and write no file
        spark.createDataFrame([], df.schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(table_dir)


def _heal_interrupted_delete(spark: SparkSession, path: str) -> None:
    """Repair the observable crash states of ``delete_from_ivf_pq_
    index``'s rename protocol (monotone-superset, like
    ``compact_index``): a missing row table whose ``.<part>_old``
    sibling exists is restored to the PRE-DELETE state (a superset —
    the delete is lost, never data), and a leftover ``.<part>_rewrite``
    beside an intact table is discarded (incomplete staging; the
    source was never touched). All steps via the path's own Hadoop
    FileSystem (ADVICE r9)."""
    fs, jvm = _fs(spark, path)
    for part in _ROW_TABLES:
        src = posixpath.join(path, part)
        old = posixpath.join(path, f".{part}_old")
        stage = posixpath.join(path, f".{part}_rewrite")
        src_p, old_p, stage_p = _jp(jvm, src), _jp(jvm, old), _jp(jvm, stage)
        if not fs.exists(src_p) and fs.exists(old_p):
            _assert_lease_held(path, f"restoring {part} from its old copy")
            _rename_or_raise(fs, jvm, old, src)
        elif fs.exists(src_p) and fs.exists(old_p):
            # both present: crash AFTER the forward swap completed but
            # before the old copy was removed — src is authoritative
            _assert_lease_held(path, f"dropping {part}'s old copy")
            fs.delete(old_p, True)
        if fs.exists(stage_p) and fs.exists(src_p):
            _assert_lease_held(path, f"dropping {part}'s stale stage")
            fs.delete(stage_p, True)


def read_ivf_pq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Load a persisted index. Plain parquet reads — every query plan
    built on top starts from a scan of the stored relations, never
    from the float corpus. Heals crash residue first: interrupted
    deletes (``_heal_interrupted_delete``) and interrupted
    compactions — a ``.compact_tmp`` left inside a row table (at the
    table root for the legacy flat layout, inside a ``cell=``
    directory for the partitioned one) means a compaction pass died
    mid-protocol and that directory may hold transient duplicate
    rows, which the ADC scorer's per-neighbor SUMS would read as
    inflated cosines (unlike the dup-idempotent streaming index
    readers); forcing the full-dedup repair BEFORE serving closes
    that window (code-review r9).

    Marker protocol (code-review r10: the first partitioned-layout
    cut probed EVERY ``cell=`` directory per open — O(n_centroids)
    filesystem round-trips, which at the module's own 100 TB story is
    thousands of object-store HEAD requests for a no-op): the common
    path checks ONE root marker per row table. ``compact_ivf_pq_
    index`` plants ``<table>/.compact_tmp`` before its per-cell loop
    and removes it after, so a present root marker means "a
    compaction pass may have died" — only then are the cell
    directories scanned for their own interrupted-pass markers and
    repaired. On the legacy flat layout the root marker IS
    ``compact_index``'s own tmp dir, repaired exactly as before.

    The ``cell`` partition column comes back from directory names with
    Spark's narrowest-type inference (int); it is cast back to long so
    joins and row-compares never depend on the physical layout.

    HEALING RUNS UNDER THE LEASE (ADVICE r12; supersedes r11's
    observe-then-heal): the r11 cut checked ``_live_foreign_lease``
    and healed if none — but a reader that observed "no lease", then
    stalled while a writer acquired, staged, and committed a
    rebalance, would resume and run the healer against the LIVE op;
    in the worst interleaving (reader evaluates committed=False
    before the writer's commit, then deletes ``plan['add']`` dirs
    after it) the freshly renamed-in cell directories are destroyed
    and the writer's own cleanup then drops the old ones — the
    hot-cell rows are gone. Now the reader only heals after
    ACQUIRING the writer lease itself, so reader-heal and writer-op
    are mutually exclusive by the same primitive writers use against
    each other. The common no-residue path pays only the cheap
    marker probes and never touches the lease; when acquisition
    conflicts, the residue belongs to the live writer and the reader
    serves around it exactly as before. Reading DURING a maintenance
    window remains the documented inconsistency the single-writer
    contract already names."""
    if _crash_residue_present(spark, path):
        fs, jvm = _fs(spark, path)
        own = _LEASE_TOKENS.get(path)
        if (
            own is not None
            and _LEASE_OWNERS.get(path) == threading.get_ident()
            and _read_lease(fs, jvm, path) == own
        ):
            # THIS THREAD is the live maintenance writer (ops open the
            # index at their own start while holding the lease): heal
            # directly — mutual exclusion is already ours. The thread
            # check matters: a reader thread in the same process must
            # not treat a sibling writer thread's token as its own and
            # heal the live op's residue (two-writer stress, r12)
            _heal_all(spark, path)
        else:
            try:
                # the full held-lease pattern, heartbeat + lost flag
                # included: a heal can force full compaction passes
                # (unbounded Spark jobs), and one outliving the TTL
                # without renewal would lose mutual exclusion to a
                # reclaiming writer mid-repair (code-review r12)
                with _held_lease(spark, path, "reader-heal"):
                    _heal_all(spark, path)
            except IndexWriterConflict:
                # a live writer owns the residue — serve around it;
                # the writer healed at its own start, and genuine
                # crash residue heals on the first read after its
                # lease expires. (Also raised if OUR heal lost its
                # lease mid-repair: the healers abort before each
                # destructive step; the next reader resumes — every
                # heal arm is monotone.)
                pass
    return IvfPqIndex(*(_load_index_part(spark, path, n) for n in _PARTS))


def _heal_all(spark: SparkSession, path: str) -> None:
    """All three crash healers, in dependency order. Callers must
    hold the writer lease (or be the reader that just acquired it)."""
    _heal_interrupted_rebalance(spark, path)
    _heal_interrupted_delete(spark, path)
    _heal_interrupted_compaction(spark, path)


def _crash_residue_present(spark: SparkSession, path: str) -> bool:
    """Cheap existence probes for every artifact the three healers
    act on — the gate that keeps the common read path from ever
    touching the lease. Any hit means either a crashed op (heal it,
    under the lease) or a live op (the acquire will conflict and the
    reader serves around it)."""
    fs, jvm = _fs(spark, path)
    marker, cent_stage, cent_old = _rebalance_paths(path)
    probes = [marker, marker + ".writing", cent_stage, cent_old]
    for part in _ROW_TABLES:
        probes += [
            posixpath.join(path, f".{part}_rebalance"),
            posixpath.join(path, f".{part}_old"),
            posixpath.join(path, f".{part}_rewrite"),
            posixpath.join(path, part, ".compact_tmp"),
        ]
    return any(fs.exists(_jp(jvm, p)) for p in probes)


def _heal_interrupted_compaction(spark: SparkSession, path: str) -> None:
    """Repair interrupted compactions (the read path's marker
    protocol, see ``read_ivf_pq_index``): a root ``.compact_tmp``
    means a compaction pass may have died mid-loop — scan the cell
    directories for their own interrupted-pass markers and force the
    full-dedup repair; on the legacy flat layout the root marker IS
    ``compact_index``'s own tmp dir, repaired by the forced pass."""
    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    fs, jvm = _fs(spark, path)
    for part in _ROW_TABLES:
        table = posixpath.join(path, part)
        root_marker = _jp(jvm, posixpath.join(table, ".compact_tmp"))
        if not fs.exists(root_marker):
            continue
        parts = _cell_partition_dirs(fs, jvm, table)
        if parts:
            for d in parts:
                cell_dir = d.toString()
                if fs.exists(
                    _jp(jvm, posixpath.join(cell_dir, ".compact_tmp"))
                ):
                    # the long-running heal arm (full-dedup Spark jobs
                    # per cell): abort between cells if the lease was
                    # reclaimed — each completed cell is internally
                    # consistent, so stopping here is monotone
                    _assert_lease_held(path, f"re-compacting {cell_dir}")
                    compact_index(spark, cell_dir, full=True)
            # the root marker is the LIVE compaction's own breadcrumb
            # when a writer reclaimed our lease mid-scan: deleting it
            # unguarded would blind the fast path to a later crash of
            # that writer (review r12)
            _assert_lease_held(path, f"clearing {part}'s root marker")
            fs.delete(root_marker, True)
        else:
            _assert_lease_held(path, f"re-compacting {table}")
            compact_index(spark, table, full=True)


def _load_index_part(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(posixpath.join(path, name))
    if name in _ROW_TABLES and "cell" in df.columns:
        cols = [c for c in df.columns if c != "cell"]
        # stable logical order (id, cell, rest) + the long cast,
        # whatever the physical layout
        df = df.select(
            cols[0],
            F.col("cell").cast("long").alias("cell"),
            *cols[1:],
        )
    return df


def _is_cell_partitioned(spark: SparkSession, table_dir: str) -> bool:
    fs, jvm = _fs(spark, table_dir)
    return bool(_cell_partition_dirs(fs, jvm, table_dir))


def _append_rows(spark: SparkSession, df: DataFrame, table_dir: str) -> None:
    """Append rows preserving the table's physical layout: cell-
    partitioned tables get a partitioned append (one file per touched
    cell), legacy flat tables a flat one (mixing layouts under one
    root breaks partition discovery for every later reader). ``cell``
    is pinned to LONG so a flat table never accumulates mixed
    int/int64 parquet files (see ``_overwrite_cell_partitioned``).

    A pre-upgrade FLAT codes table carries no ``cell`` column at all,
    and the appended rows mirror the stored schema (``append_ivf_pq_
    index`` attaches the home cell only when the stored table has it)
    — so the cast and the partition check apply only when the column
    exists; appending a cell-less batch to a cell-less flat table is
    a plain flat append (ADVICE r10, medium: the unconditional cast
    raised an unresolved-column AnalysisException and made append the
    one lifecycle op that broke on a legacy index)."""
    if "cell" not in df.columns:
        df.write.mode("append").parquet(table_dir)
        return
    df = df.withColumn("cell", F.col("cell").cast("long"))
    if _is_cell_partitioned(spark, table_dir):
        (
            df.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(table_dir)
        )
    else:
        df.write.mode("append").parquet(table_dir)


@_maintenance_op("append")
def append_ivf_pq_index(
    spark: SparkSession,
    path: str,
    new_emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """FAISS-``add`` discipline: assign + encode ``new_emb`` against
    the index's FROZEN centroids/codebooks and append to the row
    tables. One broadcast-join pass over the new vectors — the
    existing corpus floats are never rescanned (the
    ``incremental_emb_pairs`` property, applied to the PQ index).

    BATCH HYGIENE (ADVICE r10): exact duplicate rows in the batch
    (e.g. a union of overlapping sources) collapse to one before any
    guard — the ADC scorer SUMS per-neighbor code contributions, so a
    batch-internal duplicate would otherwise write duplicate codes
    rows and inflate that neighbor's cosine by √2 silently. A batch
    that carries the SAME id on CONFLICTING rows (different vector or
    metadata) raises: there is no right row to pick, and encoding an
    arbitrary one would silently drop data. An id already IN the
    index is excluded by the replay guard whatever its vector — the
    id is the identity; re-ingesting a changed vector under an
    existing id is delete-then-append, a deliberate operation.

    REPLAY GUARD, PER TABLE (code-review r9, both rounds): ids
    already present in a row table are excluded from THAT table's
    append. A crash BETWEEN the cells and codes writes must leave the
    retry able to repair the missing table (a guard keyed on the
    first-written table would no-op the retry and strand the batch in
    cells with no codes, invisible to every answer through the
    cand⋈encoded inner join). Each table's guard is one column-pruned
    scan of that table's id column, semi-joined against the (bounded,
    broadcast) batch ids; each fresh-rows plan feeds exactly one
    write, so nothing executes twice. Metadata columns the index was
    built with (``build_ivf_pq_index(metadata_cols=...)``) are
    carried through automatically — ``new_emb`` must supply them, or
    the appended files would fork the cells schema and appended rows
    would be invisible to filtered search (NULL never equi-joins).

    SINGLE WRITER (ADVICE r10): like ``delete_from_ivf_pq_index`` and
    ``compact_index``, append assumes one maintenance writer at a
    time — two concurrent appends of overlapping batches could both
    pass the replay guard before either writes. Since VERDICT r10
    item 4 this is DETECTED, not assumed: every maintenance op claims
    the ``_LEASE`` sentinel (atomic create-if-absent) and a second
    writer raises ``IndexWriterConflict`` instead of corrupting
    silently. Readers are safe throughout (append is add-only;
    partial states are healed by the per-table guard on retry)."""
    idx = read_ivf_pq_index(spark, path)
    metadata_cols = [
        c for c in idx.cells.columns if c not in (id_col, "cell")
    ]
    missing = [c for c in metadata_cols if c not in new_emb.columns]
    if missing:
        raise ValueError(
            f"index at {path} stores metadata columns {metadata_cols}; "
            f"the appended batch lacks {missing}"
        )
    # Project to the columns the index actually stores BEFORE the
    # duplicate collapse (code-review r10: a benign extra lineage
    # column — e.g. per-source ingest_ts on a union of overlapping
    # sources — must not fake a conflict for rows identical in id,
    # vector, and every stored metadata column), then materialize the
    # deduped batch ONCE: the checkpoint feeds the conflict probe,
    # both per-table guards, the single assignment pass, and the
    # encode, so neither the dedup shuffle nor the batch×centroid
    # assignment re-executes per consumer (code-review r10; the
    # build path's localCheckpoint rationale, applied to append).
    batch = (
        new_emb.select(id_col, vec_col, *metadata_cols)
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    conflict = (
        batch.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if conflict:
        raise ValueError(
            f"append batch carries conflicting rows for {id_col}="
            f"{conflict[0][0]!r} (same id, different vector or "
            "metadata); a batch must be unambiguous per id"
        )
    assigned = (
        ivf_assign_cells(
            batch, 0, id_col, vec_col, n_probe=1, centroids=idx.centroids
        )
        .select(id_col, "cell")
        .localCheckpoint(eager=True)
    )
    batch_ids = F.broadcast(batch.select(id_col))

    def _fresh_ids(table: DataFrame) -> DataFrame:
        already = F.broadcast(
            table.select(id_col).join(batch_ids, id_col, "semi")
        )
        return batch.select(id_col).join(already, id_col, "left_anti")

    new_cells = assigned.join(
        F.broadcast(_fresh_ids(idx.cells)), id_col, "semi"
    )
    if metadata_cols:
        new_cells = new_cells.join(
            batch.select(id_col, *metadata_cols), id_col
        ).select(id_col, "cell", *metadata_cols)
    _assert_lease_held(path, "the cells append")
    _append_rows(spark, new_cells, posixpath.join(path, "cells"))

    fresh_codes = batch.join(
        F.broadcast(_fresh_ids(idx.codes)), id_col, "semi"
    )
    new_codes = pq_encode(
        fresh_codes, idx.codebooks, dim, m, id_col, vec_col
    )
    if "cell" in idx.codes.columns:
        # the home cell comes from the ONE materialized assignment —
        # deterministic against the frozen centroids, so it cannot
        # disagree with the cells table's assignment of the same id
        new_codes = new_codes.join(assigned, id_col)
    _assert_lease_held(path, "the codes append")
    _append_rows(spark, new_codes, posixpath.join(path, "codes"))


@_maintenance_op("delete")
def delete_from_ivf_pq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """FAISS ``remove_ids`` discipline: drop vectors from the row
    tables (cells + codes) by anti-join rewrite; the fitted artifacts
    (centroids, codebooks) are untouched — deletion never re-fits,
    exactly as append never re-fits (a codebook trained on since-
    deleted vectors is still a valid quantizer; re-training is a
    rebuild, a deliberate operation). ``ids`` is a one-column relation
    of ids to remove — broadcast against the row tables, one pass
    each.

    The rewrite is a rename protocol, not a delete-then-copy: the
    surviving rows are staged to a dot-dir INSIDE ``path`` (same
    filesystem, so each swap step is a directory rename, never a
    cross-mount recursive copy), then
    ``src → .<part>_old``, ``.<part>_rewrite → src``, drop the old
    copy. Every crash-observable state is a SUPERSET of the
    post-delete rows (at worst the pre-delete table, i.e. the delete
    is lost and must be re-run — never corrupted or truncated) and is
    healed automatically by the next ``read_ivf_pq_index``
    (code-review r9; the monotone discipline of ``compact_index``).
    All protocol steps go through the path's Hadoop FileSystem
    (ADVICE r9), and a rename that reports failure ABORTS the
    protocol. The staged rewrite preserves the table's physical
    layout (cell-partitioned or legacy flat). Parquet has no row
    deletes; at warehouse scale the same operation is a MERGE/DELETE
    into a log-structured table format.

    SINGLE WRITER (ADVICE r9): exactly ``compact_index``'s contract —
    one maintenance writer at a time. A concurrent
    ``read_ivf_pq_index`` during the src→old / stage→src window runs
    the healer, which could restore old→src and make the writer's
    stage→src rename fail; the failure is LOUD (``_rename_or_raise``)
    and the table is back in its pre-delete state, so the race loses
    the delete, never data — but don't run deletes, appends, or
    compactions concurrently (the ``_LEASE`` sentinel now raises
    ``IndexWriterConflict`` on a second WRITER; the reader race above
    is unchanged). Readers in THIS session must re-read
    the path after the swap (plain parquet scans pin file listings at
    plan time)."""
    _heal_interrupted_rebalance(spark, path)
    _heal_interrupted_delete(spark, path)
    fs, jvm = _fs(spark, path)
    key = F.broadcast(ids.select(F.col(ids.columns[0]).alias(id_col)))
    for part in _ROW_TABLES:
        src = posixpath.join(path, part)
        stage = posixpath.join(path, f".{part}_rewrite")
        old = posixpath.join(path, f".{part}_old")
        fs.delete(_jp(jvm, stage), True)
        survivors = spark.read.parquet(src).join(key, id_col, "left_anti")
        if _is_cell_partitioned(spark, src):
            # the helper downgrades an EMPTY survivor set to a
            # schema-bearing flat table — a fileless partitioned stage
            # would brick the index once swapped in (code-review r10)
            _overwrite_cell_partitioned(survivors, stage)
        else:
            survivors.write.mode("overwrite").parquet(stage)
        _assert_lease_held(path, f"the {part} delete swap")
        _rename_or_raise(fs, jvm, src, old)
        _rename_or_raise(fs, jvm, stage, src)
        fs.delete(_jp(jvm, old), True)


@_maintenance_op("compact")
def compact_ivf_pq_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    full: bool = False,
) -> int:
    """Layout-aware compaction for the index's row tables: each
    ``cell=<v>`` partition directory is a flat parquet directory of
    unique-by-construction rows, compacted independently through
    ``maintenance.compact_index`` (whose monotone-superset protocol
    and ``.compact_tmp`` self-healing apply per directory — exactly
    the per-partition maintenance shape of a Hive table). Legacy flat
    row tables compact at the root. Returns the total data-file count
    left across both row tables. Same single-writer contract as
    ``compact_index``.

    ROOT MARKER (code-review r10): a ``<table>/.compact_tmp`` marker
    directory is planted before the per-cell loop and removed after,
    so ``read_ivf_pq_index`` pays ONE existence check per table on
    the common path and scans the cell directories for interrupted
    passes only when a compaction provably died mid-loop (any crash
    inside the loop leaves the root marker in place; each completed
    cell is internally consistent, so the scan-and-repair is
    monotone).

    THIS IS THE ONLY SANCTIONED COMPACTION ENTRY for index row tables
    (ADVICE r10): calling ``maintenance.compact_index`` directly on a
    single ``cell=`` directory skips the root marker, so a crash
    there would leave a cell-level ``.compact_tmp`` the one-marker
    fast path of ``read_ivf_pq_index`` never scans for — transient
    duplicate rows in that cell would then serve inflated ADC sums
    silently. Compacting one hot cell is still cheap through here:
    the per-cell loop costs one listStatus + a no-op ``compact_
    index`` probe per already-compact cell."""
    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    _heal_interrupted_rebalance(spark, path)
    fs, jvm = _fs(spark, path)
    total = 0
    for part in _ROW_TABLES:
        table = posixpath.join(path, part)
        parts = _cell_partition_dirs(fs, jvm, table)
        if parts:
            marker = _jp(jvm, posixpath.join(table, ".compact_tmp"))
            fs.mkdirs(marker)
            for d in parts:
                _assert_lease_held(path, f"compacting {d.getName()}")
                total += compact_index(
                    spark, d.toString(), target_file_bytes, full
                )
            fs.delete(marker, True)
        else:
            _assert_lease_held(path, f"compacting {part}")
            total += compact_index(spark, table, target_file_bytes, full)
    return total


def ivf_pq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int,
    dim: int,
    n_probe: int = 1,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_cols: list[str] | None = None,
    eager: bool = True,
) -> DataFrame:
    """Serve ADC top-k from a (persisted) index: the query vectors are
    assigned to their ``n_probe`` nearest stored centroids (broadcast
    join — the only place query floats appear), then scored against
    the stored codes via the shared ``_ivf_pq_adc_topk`` core. Row-
    identical to ``ivf_pq_topk`` when the index was built from the
    same corpus with the same geometry (the persisted-vs-in-session
    oracle equality ``ivf_pq_persisted_topk`` pins).

    PROBED-CELL PRUNING (VERDICT r9 item 1): the query assignment is
    materialized once (``localCheckpoint`` — it feeds the candidate
    join, the LUT, and the probe list; unmaterialized it would re-run
    the query×centroid assignment per branch), its distinct probed
    cells are collected (bounded by min(queries×n_probe, n_centroids)
    ids — the same bounded-driver-collect class as the z-order bounds
    aggregate), and ``cell IN (probed)`` is pushed into BOTH row-table
    scans. On the partitioned layout that is a partition filter:
    files read scale with n_probe, not the corpus. Semantically a
    no-op — a neighbor outside the probed cells can never join — so
    answers are byte-identical with or without it.

    ``filter_cols``: metadata-filtered search over the compressed
    index — the listed columns must exist on ``queries`` AND have
    been carried into the stored cells (``build_ivf_pq_index(
    metadata_cols=...)``); candidates then pair only on matching
    metadata, inside the same hash equi-join that matches cells
    (``ivf_pq_filtered_topk`` pins it against a relational oracle).

    EAGER CONTRACT (ADVICE r10): constructing the result plan runs
    two bounded Spark jobs up front — the query×centroid assignment
    is localCheckpoint'ed (it feeds the candidate join, the LUT, and
    the probe list) and the probed cell ids are collected so they can
    be pushed into the scans as partition filters at PLAN time (a
    lazy subquery could not prune directories). The checkpointed
    blocks stay pinned in executor storage until the returned
    DataFrame is garbage-collected; a long-lived serving loop should
    drop its reference to each result once consumed (or serve many
    queries per call — the whole point of the relational API) rather
    than accumulate thousands of live search plans. ``eager=False``
    is the documented fallback for that loop: construction runs ZERO
    Spark jobs and pins nothing — the price is no partition pruning
    (the probed cells aren't known at plan time, so both row tables
    scan fully) and a query-assignment pipeline that re-executes once
    per plan branch; right when the query relation is one small
    literal and latency-to-first-plan matters more than bytes
    scanned. Answers are byte-identical either way (pruning is
    semantically a no-op)."""
    filter_cols = list(filter_cols or [])
    q_assigned = ivf_assign_cells(
        queries, 0, id_col, vec_col, n_probe=n_probe,
        centroids=index.centroids,
    )
    cells_src = index.cells
    codes_src = index.codes
    if eager:
        q_assigned = q_assigned.localCheckpoint(eager=True)
        probed = sorted(
            r[0] for r in q_assigned.select("cell").distinct().collect()
        )
        cells_src = cells_src.where(F.col("cell").isin(probed))
        if "cell" in codes_src.columns:
            codes_src = codes_src.where(F.col("cell").isin(probed))
    if "cell" in codes_src.columns:
        codes_src = codes_src.drop("cell")
    if filter_cols:
        q_assigned = q_assigned.join(
            queries.select(id_col, *filter_cols), id_col
        )
    return _ivf_pq_adc_topk(
        q_assigned,
        cells_src.select(
            F.col(id_col).alias("neighbor_id"), "cell", *filter_cols
        ),
        index.codebooks,
        codes_src,
        k,
        dim,
        m=m,
        id_col=id_col,
        match_cols=filter_cols,
    )


# ---- Cell rebalance (hot-cell split) -----------------------------------------
# ``append_ivf_pq_index`` holds the coarse centroids FROZEN (the
# FAISS train-then-add discipline), so a sustained append stream
# inflates cells linearly and the serve-cost bound — n_probe ×
# rows-per-cell — silently decays: the measured 40-of-1600 files-read
# bound stays intact (file COUNT tracks n_probe) while each probed
# file grows without limit (VERDICT r10 "What's wrong" #3, the exact
# inverse of the measured K∝N SemDeDup lesson). Rebalance is the
# maintenance op that closes the loop: split cells that outgrew a
# row bound by fitting SUB-centroids for just those cells and
# rewriting just their directories. Codebooks stay frozen — PQ codes
# are cell-independent, so a moved row keeps its exact codes and
# every full-probe answer is byte-identical before and after (the
# invariance ``tests/test_ann_index.py`` pins); only the PRUNING
# geometry changes.
#
# The sub-centroid fit reads NO corpus floats: member vectors are
# reconstructed from their PQ codes (concatenate the m codebook
# entries — the standard decode), so maintenance cost is
# O(hot-cell rows × dim), bounded by the split set, and the op works
# on any index whose float corpus has long since been archived. The
# reconstruction error is exactly the PQ quantization error the index
# already accepts at query time; the split is a pruning heuristic,
# not a scoring input, so this costs recall nothing that the code
# geometry hadn't already cost.


def _pq_reconstruct(
    codes: DataFrame, codebooks: DataFrame, id_col: str
) -> DataFrame:
    """(id, v, nrm): approximate vectors decoded from PQ codes — for
    each vector, its m codebook entries concatenated in subspace
    order. One broadcast join + one grouped sort-flatten."""
    joined = codes.select(id_col, "sub", "code").join(
        F.broadcast(
            codebooks.select("sub", F.col("cell").alias("code"), "vc")
        ),
        ["sub", "code"],
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "struct(sub, vc))), s -> s.vc))"
            ).alias("v")
        )
        .withColumn("nrm", F.expr(_norm("v")))
    )


def _rebalance_paths(path: str) -> tuple[str, str, str]:
    return (
        posixpath.join(path, ".rebalance_tmp"),
        posixpath.join(path, ".centroids_rebalance"),
        posixpath.join(path, ".centroids_old"),
    )


def _heal_interrupted_rebalance(spark: SparkSession, path: str) -> None:
    """Repair the crash states of ``rebalance_ivf_pq_index``'s marker
    protocol. The marker (``.rebalance_tmp``, written atomically via
    a staged rename) records the plan — old cell ids to drop and new
    cell ids that were renamed in — and the CENTROIDS SWAP is the
    commit point:

      * no marker: any ``.rebalance_*``/``.centroids_rebalance``
        residue is pre-mutation staging garbage — delete it; the
        index was never touched.
      * marker + ``.centroids_rebalance`` still present: NOT
        committed. Roll back — restore the centroids table if the
        swap died mid-rename, delete whichever ``add`` directories
        were already renamed into the row tables, drop all staging.
        The ``drop`` directories were never touched (drops happen
        only after commit), so the index is exactly pre-rebalance.
      * marker + no ``.centroids_rebalance``: committed. Roll
        forward — drop the old hot-cell directories and the
        ``.centroids_old`` copy.

    Both arms are monotone (re-crash during healing lands in the
    same arm) and end by deleting the marker."""
    import json

    fs, jvm = _fs(spark, path)
    marker, cent_stage, cent_old = _rebalance_paths(path)
    writing = _jp(jvm, marker + ".writing")
    if fs.exists(writing):
        # a live writer stages its plan through this exact file
        # (write-then-rename): a lost-lease healer deleting it between
        # the write and the rename would abort the live rebalance
        # spuriously (review r12)
        _assert_lease_held(path, "dropping the rebalance plan stage")
        fs.delete(writing, False)
    stage_roots = [
        posixpath.join(path, f".{part}_rebalance") for part in _ROW_TABLES
    ]
    if not fs.exists(_jp(jvm, marker)):
        for junk in (*stage_roots, cent_stage):
            if fs.exists(_jp(jvm, junk)):
                _assert_lease_held(path, "dropping rebalance staging")
                fs.delete(_jp(jvm, junk), True)
        return
    f = fs.open(_jp(jvm, marker))
    try:
        plan = json.loads(bytes(f.readAllBytes()).decode())
    finally:
        f.close()
    _assert_lease_held(path, "replaying the rebalance heal arm")
    committed = not fs.exists(_jp(jvm, cent_stage))
    if committed:
        fs.delete(_jp(jvm, cent_old), True)
        doomed = plan["drop"]
    else:
        cent_src = posixpath.join(path, "centroids")
        if not fs.exists(_jp(jvm, cent_src)) and fs.exists(_jp(jvm, cent_old)):
            _rename_or_raise(fs, jvm, cent_old, cent_src)
        fs.delete(_jp(jvm, cent_stage), True)
        doomed = plan["add"]
    for part in _ROW_TABLES:
        for c in doomed:
            fs.delete(
                _jp(jvm, posixpath.join(path, part, f"cell={c}")), True
            )
    for junk in stage_roots:
        fs.delete(_jp(jvm, junk), True)
    fs.delete(_jp(jvm, marker), False)


@_maintenance_op("rebalance")
def rebalance_ivf_pq_index(
    spark: SparkSession,
    path: str,
    target_rows_per_cell: int | None = None,
    max_cell_factor: float = 2.0,
    iters: int = 2,
    id_col_default: str = "vec_id",
) -> int:
    """Split every cell holding more than ``max_cell_factor × target``
    rows into ``ceil(rows / target)`` sub-cells and rewrite ONLY those
    cells' directories. Returns the number of cells split (0 = no-op,
    nothing written).

    ``target_rows_per_cell`` is the serve-cost bound being restored —
    the rows a single probe may scan. Pass it explicitly on an
    append-grown index (growth mode: after a uniform 10× append every
    cell is 10× the bound, and the split takes n_centroids toward the
    K∝N geometry a fresh build would choose). When omitted it
    defaults to the CURRENT mean cell size, which can only see skew
    (a uniform inflation moves the mean with it) — that mode exists
    for hot-spot repair, not growth repair.

    Mechanics (per the module doc): sub-centroids are Lloyd-fit on
    the PQ RECONSTRUCTIONS of just the hot cells' members (seed = the
    lowest-id members per cell, cosine assignment with ties to the
    lower cell id, means rounded to 6 decimals — the
    ``kmeans_centroids`` determinism contract), members reassign only
    among their own cell's sub-centroids, and the physical swap is a
    marker protocol healed by ``read_ivf_pq_index``
    (``_heal_interrupted_rebalance``): stage everything invisibly
    (dot-dirs), write the plan marker, rename the new ``cell=``
    directories in, COMMIT by swapping the centroids table, then drop
    the old directories. A crash anywhere heals to exactly
    pre-rebalance (before the centroid swap) or exactly
    post-rebalance (after it) — never a mix.

    Requires the cell-partitioned layout: on the legacy flat layout
    there are no per-cell files to bound, so rebalance would buy
    nothing — rebuild via ``write_ivf_pq_index`` instead (raises
    ValueError)."""
    import json
    import math

    from pyspark.sql.window import Window

    idx = read_ivf_pq_index(spark, path)
    for part in _ROW_TABLES:
        if not _is_cell_partitioned(spark, posixpath.join(path, part)):
            raise ValueError(
                f"index at {path}: row table '{part}' is on the legacy "
                "flat layout; rebalance restores per-cell file bounds, "
                "which a flat table does not have — rebuild with "
                "write_ivf_pq_index instead"
            )
    id_col = idx.cells.columns[0] if idx.cells.columns else id_col_default
    meta_cols = [c for c in idx.cells.columns if c not in (id_col, "cell")]

    sizes = idx.cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    if target_rows_per_cell is None:
        mean = sizes.agg(F.avg("n")).collect()[0][0]
        if mean is None:
            return 0
        target = max(int(round(mean)), 1)
    else:
        target = max(int(target_rows_per_cell), 1)
    # bounded collect: one row per stored cell (≤ n_centroids)
    hot_rows = sorted(
        (int(r["cell"]), int(r["n"]))
        for r in sizes.where(
            F.col("n") > max_cell_factor * target
        ).collect()
    )
    if not hot_rows:
        return 0

    base_id = int(idx.centroids.agg(F.max("cell")).collect()[0][0]) + 1
    plan_rows = []
    for cell, n in hot_rows:
        n_sub = max(2, math.ceil(n / target))
        plan_rows.append((cell, base_id, n_sub))
        base_id += n_sub
    hot_list = [c for c, _, _ in plan_rows]
    plan_df = F.broadcast(
        spark.createDataFrame(
            plan_rows, "old_cell long, first_new long, n_sub int"
        )
    )

    # -- fit sub-centroids on the hot members' PQ reconstructions
    members = idx.cells.where(F.col("cell").isin(hot_list)).select(
        id_col, F.col("cell").alias("old_cell")
    )
    # reconstruct ONLY the hot cells' members: the codes table carries
    # the home cell, so this filter is a partition-pruned read — a
    # plain join after the reconstruction groupBy would not push down,
    # and the decode would run over the whole corpus (the exact cost
    # bound this op promises not to break)
    recon = _pq_reconstruct(
        idx.codes.where(F.col("cell").isin(hot_list)), idx.codebooks, id_col
    )
    mv = members.join(recon, id_col).localCheckpoint(eager=True)

    w_seed = Window.partitionBy("old_cell").orderBy(id_col)
    cents = (
        mv.withColumn("rn", F.row_number().over(w_seed))
        .join(plan_df, "old_cell")
        .where(F.col("rn") <= F.col("n_sub"))
        .select(
            "old_cell",
            (F.col("first_new") + F.col("rn") - 1).alias("new_cell"),
            F.col("v").alias("vc"),
            F.col("nrm").alias("nc"),
        )
        .where(F.col("nc") > 0)
        .localCheckpoint(eager=True)
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("cos_c").desc(), F.col("new_cell")
    )

    def _assign(rel):
        # a zero-norm reconstruction has no direction: rank it below
        # every real cosine so it lands in the lowest sub-cell
        return (
            rel.join(F.broadcast(cents), "old_cell")
            .withColumn(
                "cos_c",
                F.when(
                    F.col("nrm") > 0,
                    F.expr(_dot("v", "vc")) / (F.col("nrm") * F.col("nc")),
                ).otherwise(F.lit(-2.0)),
            )
            .withColumn("rn", F.row_number().over(w_assign))
            .where(F.col("rn") == 1)
        )

    for _ in range(iters):
        assigned = _assign(mv).select("old_cell", "new_cell", "v")
        cents = (
            assigned.select(
                "old_cell", "new_cell", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("old_cell", "new_cell", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("old_cell", "new_cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))),"
                    " s -> s.m)"
                ).alias("vc")
            )
            .withColumn("nc", F.expr(_norm("vc")))
            .where(F.col("nc") > 0)
            .localCheckpoint(eager=True)
        )
    final = (
        _assign(mv)
        .select(id_col, F.col("new_cell").alias("cell"))
        .localCheckpoint(eager=True)
    )
    # COMPLETENESS INVARIANT (review r11): every hot member must land
    # in some sub-cell. If a hot cell lost ALL its sub-centroids to
    # the nc > 0 guard (pathological all-zero reconstructions), the
    # inner joins above silently dropped its members — and the
    # cleanup below would delete their only copy. Abort BEFORE any
    # mutation instead; nothing has been staged or renamed yet.
    # (members.count, not mv.count: a cells row with no codes rows —
    # a corrupted index — would already have been dropped by the
    # recon join, and this check must catch that loss too)
    n_members, n_final = members.count(), final.count()
    if n_final != n_members:
        raise ValueError(
            f"rebalance aborted: {n_members - n_final} of {n_members} "
            "hot-cell members received no sub-cell (degenerate zero-"
            "norm reconstructions, or cells rows with no codes); the "
            "index is untouched — inspect the affected cells or rebuild"
        )
    add_list = sorted(
        int(r[0]) for r in final.select("cell").distinct().collect()
    )

    # -- stage (all dot-paths: invisible to readers, ignored by heal
    #    until the marker exists)
    fs, jvm = _fs(spark, path)
    marker, cent_stage, cent_old = _rebalance_paths(path)
    moved = {
        "cells": idx.cells.where(F.col("cell").isin(hot_list))
        .drop("cell")
        .join(final, id_col)
        .select(id_col, "cell", *meta_cols),
        "codes": idx.codes.where(F.col("cell").isin(hot_list))
        .drop("cell")
        .join(final, id_col),
    }
    stage_roots = {}
    for part, df in moved.items():
        root = posixpath.join(path, f".{part}_rebalance")
        fs.delete(_jp(jvm, root), True)
        (
            df.withColumn("cell", F.col("cell").cast("long"))
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(root)
        )
        stage_roots[part] = root
    new_cents = idx.centroids.where(~F.col("cell").isin(hot_list)).unionByName(
        cents.select(
            F.col("new_cell").alias("cell"), "vc", F.col("nc").cast("double")
        )
    )
    new_cents.write.mode("overwrite").parquet(cent_stage)

    # -- marker: atomic visibility via staged rename
    payload = json.dumps({"drop": hot_list, "add": add_list}).encode()
    out = fs.create(_jp(jvm, marker + ".writing"), True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    _assert_lease_held(path, "the rebalance marker rename")
    _rename_or_raise(fs, jvm, marker + ".writing", marker)

    # -- rename the new cell directories in (pre-commit: heal rolls
    #    these back)
    for part, root in stage_roots.items():
        for c in add_list:
            src = posixpath.join(root, f"cell={c}")
            if fs.exists(_jp(jvm, src)):
                _rename_or_raise(
                    fs, jvm, src, posixpath.join(path, part, f"cell={c}")
                )

    # -- COMMIT: centroid swap (heal rolls forward past this point)
    _assert_lease_held(path, "the rebalance centroid-swap commit")
    _rebalance_commit(fs, jvm, path)

    # -- drop the split cells' old directories, clear staging + marker
    _rebalance_cleanup(fs, jvm, path, hot_list, stage_roots, marker)
    return len(hot_list)


def _rebalance_commit(fs, jvm, path: str) -> None:
    """The commit point, isolated so crash tests can die exactly at
    the pre-/post-commit boundary."""
    marker, cent_stage, cent_old = _rebalance_paths(path)
    cent_src = posixpath.join(path, "centroids")
    _rename_or_raise(fs, jvm, cent_src, cent_old)
    _rename_or_raise(fs, jvm, cent_stage, cent_src)
    fs.delete(_jp(jvm, cent_old), True)


def _rebalance_cleanup(
    fs, jvm, path: str, hot_list, stage_roots, marker: str
) -> None:
    """Post-commit garbage collection (old hot-cell dirs, staging,
    marker) — exactly what ``_heal_interrupted_rebalance`` replays on
    the roll-forward arm if the writer dies after committing."""
    for part in _ROW_TABLES:
        for c in hot_list:
            fs.delete(
                _jp(jvm, posixpath.join(path, part, f"cell={c}")), True
            )
    for root in stage_roots.values():
        fs.delete(_jp(jvm, root), True)
    fs.delete(_jp(jvm, marker), False)
