"""Table-maintenance operators for a file-based lakehouse layout:
small-file compaction and snapshot upsert (merge).

The reference has no persistent storage at all (everything lives in
RAM for one job — SURVEY.md §1.1), so these are pure extensions, but
they are load-bearing for the 100-TB story: streaming ingest and
per-batch writes produce many small files, and parquet has no MERGE —
both problems every production pipeline must solve.

Scale stance:
- Compaction sizes the output by *bytes*, not file count, so the same
  call works at any sf; the rewrite is one wide scan + round-robin
  repartition (no shuffle key, no skew) + columnar write.
- Upsert is one shuffle-free-on-the-small-side anti join: the delta is
  usually tiny relative to the base, so Spark broadcasts the delta's
  keys; the base is scanned once and never shuffled.
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Total data bytes under ``path`` on WHATEVER filesystem backs it
    — the Hadoop FileSystem API works for s3a://, hdfs://, and local
    paths alike (code-review r6: the old local-only os.walk returned 0
    on object storage, so the fallback wrote the scan's partitioning
    as-is and 'compaction' compacted nothing). Local-stat fallback
    kept for environments where the JVM gateway call fails."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:
        p = urlparse(path)
        root = p.path if p.scheme in ("", "file") else None
        if root is None or not os.path.isdir(root):
            return 0
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    dedup_keys: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite a parquet directory into ~target_file_bytes files.

    ``zorder_cols`` re-clusters the output along the Morton curve of
    2-4 key columns (``operators/layout.py::zorder_arrange``) instead
    of hash-repartitioning. Compaction is exactly where a streaming
    landing zone regains layout: micro-batch appends arrive
    time-ordered, so their file stats prune nothing on the keys
    queries actually filter by; the compaction rewrite is the one
    pass every row already flows through. Cost: the range-exchange
    replaces the hash-exchange; quantization bounds ride the
    dedup-ratio aggregate when ``dedup_keys`` is set (zero extra
    scans) and one min/max aggregate scan otherwise.

    ``dedup_keys`` (ADVICE r7): publish-time key dedup. A landing
    zone fed by an at-least-once stream can legitimately hold
    duplicate keys (a replayed micro-batch, a duplicate arriving past
    the watermark horizon), and in-place ``compact_index`` passes only
    remove copies that happen to be co-rewritten — so a publish step
    whose consumers count rows must dedup HERE, at the single point
    every row flows through, not rely on compaction cadence. Pass the
    logical key (e.g. ``["event_id"]``) and the published table holds
    exactly one row per key; ``None`` preserves multiplicity.

    File count is derived from the *source bytes on storage*
    (compressed columnar size — the right estimator for the compacted
    output, unlike row counts), measured through the Hadoop FileSystem
    API so the same call works on local disk, HDFS, and object
    stores. When ``dedup_keys`` is set the source bytes over-estimate
    the output by exactly the duplication factor (a 10x-replayed
    landing zone would over-split 10x — the many-small-files outcome
    this function exists to prevent), so the estimate is scaled by
    the surviving-key ratio, measured in ONE aggregate pass with
    ``approx_count_distinct`` — the ratio feeds a file-count
    estimate, so sketch precision is ample and no dedup shuffle runs
    twice (code-review r8). If the size
    probe fails entirely, the fallback is sized from the scan's own
    partition count (maxPartitionBytes-bounded) rather than
    repartition(1): a transient FileSystem error on a large directory
    must degrade to a slightly-conservative file count, never funnel
    the whole source through one task (ADVICE r6).
    """
    df = spark.read.parquet(src_dir)
    total = _dir_bytes(spark, src_dir)
    # Quantization bounds fold into whatever aggregate already runs
    # over the source (the dedup-ratio pass when dedup_keys is set),
    # and are taken over the PRE-dedup rows either way — a superset's
    # min/max only widens the range, never misorders the curve — so
    # the z-order path costs ONE extra scan at most and never re-runs
    # the dedup shuffle for bounds (code-review r8 session 2).
    zbounds = None
    zb_aggs = []
    if zorder_cols:
        from map_reduce_library_spark.operators.layout import (
            zorder_bounds_aggs,
        )

        zb_aggs = zorder_bounds_aggs(df, zorder_cols)
    if dedup_keys:
        row = df.agg(
            F.count(F.lit(1)).alias("__n_raw"),
            F.approx_count_distinct(F.struct(*dedup_keys)).alias(
                "__n_keys"
            ),
            *zb_aggs,
        ).first()
        n_raw, n_keys = row["__n_raw"], row["__n_keys"]
        zbounds = row
        df = df.dropDuplicates(dedup_keys)
        if n_raw > 0:
            total = math.ceil(total * min(n_keys, n_raw) / n_raw)
    elif zb_aggs:
        zbounds = df.agg(*zb_aggs).first()
    if total > 0:
        n = max(1, math.ceil(total / target_file_bytes))
    else:
        n = max(1, df.rdd.getNumPartitions())
    if zorder_cols:
        from map_reduce_library_spark.operators.layout import zorder_arrange

        out = zorder_arrange(df, zorder_cols, n, bounds=zbounds)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(dst_dir)
    return spark.read.parquet(dst_dir)


def _list_data_files(spark: SparkSession, path: str) -> list:
    """Hadoop-FS listing of the DATA files directly under ``path``
    (skips `_SUCCESS`/dot files), as JVM Path objects — works on any
    FileSystem the cluster mounts, not just local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append(st.getPath())
    return out


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    full: bool = False,
) -> int:
    """IN-PLACE compaction for append-only index directories whose
    readers are duplicate-idempotent (the streaming ingest-dedup
    band/digest indexes, pairs, verdicts — each consumed through
    distinct / min / distinct-count aggregates; streaming/
    ingest_dedup.py docstring). Returns the number of data files left
    under ``index_dir``.

    Per-tick ``mode("append")`` writes one file-set per micro-batch,
    so at real tick counts the per-tick index probe degrades into a
    many-small-files scan (VERDICT r6 item 5) — this rewrite restores
    a bytes-sized file count without moving the directory (readers
    and the ingest pipeline keep one stable path).

    INCREMENTAL by default (code-review r7): only data files smaller
    than ``target_file_bytes`` are rewritten; files already at target
    size are left untouched. Within the sub-target set the selection
    is GEOMETRIC (ADVICE r7): the largest selected file only joins
    the rewrite when the other selected files' combined bytes at
    least match it, so a below-target accumulator file is NOT
    re-rewritten every cadence tick while small appends trickle in —
    each byte is rewritten only when the merge at least doubles the
    file it lives in, i.e. O(log(corpus/append)) times over the
    stream's lifetime (the LSM-tree merge invariant). A naive
    "rewrite everything below target" policy re-copies the
    accumulator every pass — O(target/append_bytes) rewrites per
    byte; a full rewrite per cadence would be quadratic.
    ``full=True`` forces a whole-table rewrite; the rewrite always
    applies a whole-row ``dropDuplicates`` (legitimate rows in these
    tables are unique by construction — duplicates only arise from
    at-least-once replay or a crash window), so a full pass is also
    the REPAIR that removes inherited duplicates; an incremental pass
    removes them only within the file set it rewrites.

    Crash-safety is a MONOTONE-SUPERSET protocol, not an atomic swap
    (directories can't be atomically replaced on object stores):
      1. rewrite the small files into a side tmp dir,
      2. move the compacted parts INTO index_dir under fresh names
         (a rename reporting failure ABORTS before any delete — the
         Hadoop FileSystem API signals most failures by returning
         false, not raising),
      3. delete the rewritten pre-compaction files, then the tmp dir.
    Every intermediate state the directory can be observed in — old
    files only, old + some compacted, old + all compacted, partially
    deleted old + all compacted — is a SUPERSET of the true row set,
    never a subset, so an interruption at any step loses nothing and
    at worst leaves duplicates that the duplicate-idempotent readers
    absorb. Crash residue SELF-HEALS (ADVICE r7 — the repair used to
    have no caller): the tmp dir is ``.compact_tmp`` INSIDE
    ``index_dir`` (dot-prefixed, so both ``_list_data_files`` and
    Spark's hidden-path filter skip it — parquet readers of the
    directory never see it, and parent-directory globs need no
    exclusion), and a pass that finds it on entry knows the previous
    pass died mid-protocol, forces ``full=True``, and the whole-table
    ``dropDuplicates`` removes any inherited duplicates in the same
    pass. Do NOT use for tables whose readers count raw row
    multiplicity; those need a log/catalog table format.

    Single-writer contract (same as pysink): the ingest pipeline runs
    this inside its serial foreachBatch callback, so no reader or
    writer races the move/delete window.
    """
    import math as _math
    import uuid

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    tmp = index_dir.rstrip("/") + "/.compact_tmp"
    tmp_jpath = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(tmp_jpath):
        # Crash residue: a prior pass died between the tmp write and
        # the end of the protocol, so renamed-in compacted parts may
        # duplicate rows still sitting in their source files. Force
        # the whole-table dedup repair (docstring: self-healing).
        full = True
    # Legacy residue (code-review r8): an earlier release staged its
    # tmp at the SIBLING path <index_dir>__compact_tmp; a crash on
    # that version leaves the orphan dir (leaked storage) and possibly
    # inherited duplicates that the new in-dir check never sees. Tmp
    # contents were never part of index_dir (the protocol renames out
    # of tmp, and a pre-rename crash leaves sources intact), so the
    # orphan is safe to delete; the duplicate repair is the same
    # forced full pass. BUT the sibling path is outside the directory
    # this library owns, and could coincidentally hold unrelated user
    # data — delete only when every entry looks like Spark write
    # residue (part-* data files, _SUCCESS/_started markers, .hidden
    # checksums), and raise otherwise instead of destroying it
    # (ADVICE r9).
    legacy_jpath = jvm.org.apache.hadoop.fs.Path(
        index_dir.rstrip("/") + "__compact_tmp"
    )
    if fs.exists(legacy_jpath):
        # Spark write residue by NAME for files AND directories: a
        # mid-write crash leaves a _temporary/ DIRECTORY (plus
        # .staging variants), so classifying any directory as foreign
        # would make the most common crash shape raise forever
        # instead of self-healing (code-review r9).
        foreign = [
            st.getPath().getName()
            for st in fs.listStatus(legacy_jpath)
            if not st.getPath().getName().startswith(("part-", "_", "."))
        ]
        if foreign:
            raise ValueError(
                f"{index_dir.rstrip('/')}__compact_tmp exists but does "
                f"not look like compaction residue (unexpected entries "
                f"{foreign[:5]!r}); refusing to delete it — remove or "
                "rename it manually"
            )
        full = True
        fs.delete(legacy_jpath, True)
    # ONE listing feeds the partition-layout guard, the small-file
    # selection, and the total count (object-store LIST calls are
    # paginated remote I/O; code-review r7). The guard runs BEFORE
    # the trivial-count early return — a partitioned table has no
    # top-level data files, so the guard must not be skippable: a
    # partitioned layout would be read in full but its old files
    # never deleted (the listing is non-recursive), leaving
    # permanent duplicates.
    small, n_files = [], 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if st.isDirectory():
            raise ValueError(
                f"compact_index requires a flat parquet directory; "
                f"{index_dir} contains partition subdirectory "
                f"{name!r} — use compact_parquet into a new location "
                "for partitioned tables"
            )
        n_files += 1
        if full or st.getLen() < target_file_bytes:
            small.append((st.getPath(), st.getLen()))
    if not full:
        # Geometric merge policy (docstring): the largest selected
        # file participates only when the rest at least match its
        # size, so the merge at least doubles every byte it copies.
        small.sort(key=lambda t: t[1], reverse=True)
        while len(small) > 1 and small[0][1] > sum(
            ln for _p, ln in small[1:]
        ):
            small.pop(0)
    if len(small) <= 1:
        # Clear crash residue BEFORE the trivial-count early return
        # (code-review r9): a pass that crashed after renaming its
        # output in and deleting the old files — leaving ONE
        # (already-deduplicated) file plus the tmp marker — would
        # otherwise never delete the marker, and every marker-driven
        # repair (read_ivf_pq_index forces full=True on seeing it)
        # would re-trigger forever. Reaching here with the marker
        # present means the directory holds at most one data file, so
        # no cross-file duplicates can exist and dropping the
        # leftover staging copy loses nothing (sources were never
        # deleted before their compacted replacements landed).
        if fs.exists(tmp_jpath):
            fs.delete(tmp_jpath, True)
        return n_files
    old_paths = [p for p, _len in small]
    df = spark.read.parquet(*[p.toString() for p in old_paths])
    # never more files out than in: a tiny target would otherwise plan
    # one partition per input byte
    n_out = min(
        len(old_paths),
        max(1, _math.ceil(sum(ln for _p, ln in small) / target_file_bytes)),
    )
    df.dropDuplicates().repartition(n_out).write.mode(
        "overwrite"
    ).parquet(tmp)

    salt = uuid.uuid4().hex[:8]
    for i, part in enumerate(_list_data_files(spark, tmp)):
        dest = jvm.org.apache.hadoop.fs.Path(
            jpath, f"compact-{salt}-{i:05d}-{part.getName()}"
        )
        if not fs.rename(part, dest):
            raise IOError(
                f"compact_index: rename {part} -> {dest} failed; "
                "aborting before any delete (directory remains a "
                "superset — safe to retry)"
            )
    failed_deletes = [
        p for p in old_paths if not fs.delete(p, False)
    ]
    if failed_deletes:
        raise IOError(
            f"compact_index: could not delete {len(failed_deletes)} "
            f"pre-compaction file(s) (first: {failed_deletes[0]}); "
            "directory holds duplicates (superset — readers are "
            "unaffected; a later full=True pass repairs)"
        )
    fs.delete(tmp_jpath, True)
    return len(_list_data_files(spark, index_dir))


def snapshot_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    latest_by: str | None = None,
    validate: bool = True,
) -> DataFrame:
    """MERGE semantics on plain DataFrames: rows of ``updates`` replace
    base rows sharing the same key; unmatched update rows are inserts.

    A delta batch MAY carry several rows for one key (a CDC stream
    usually does). Unioning them all back would corrupt the
    snapshot's one-row-per-key invariant (code-review r6 finding —
    real MERGE errors on multiple matches), so the updates side is
    resolved FIRST: with ``latest_by`` the highest value per key wins
    (ties broken arbitrarily but deterministically by that column's
    window order); without it, duplicate update keys are a caller bug
    and raise. The duplicate probe is an EAGER Spark job over the
    delta (groupBy + limit(1).collect); callers with a known-clean
    delta pass ``validate=False`` to keep the whole merge a single
    lazy plan (ADVICE r6).

    Plan: per-key resolution is a window over the DELTA only (small),
    then anti-join the base against the update keys (delta keys are
    small → broadcast; the base is never shuffled), then union.
    Equivalent to ``MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` for whole-row updates."""
    from pyspark.sql.window import Window

    if latest_by is not None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(latest_by).desc())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    elif validate:
        dup = (
            updates.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key = tuple(dup[0][k] for k in key_cols)
            raise ValueError(
                f"updates contain multiple rows for key {key!r}; pass "
                "latest_by=<ordering column> to resolve, or dedup the "
                "delta first"
            )
    survivors = base.join(
        updates.select(*key_cols).dropDuplicates(key_cols),
        key_cols,
        "left_anti",
    )
    return survivors.unionByName(updates)


# Z-order clustering moved to operators/layout.py (r8 consolidation:
# this module's original 2-column, unquantized Morton trio —
# _morton_spread/zorder_key/cluster_by_zorder — was superseded by the
# general 2-4-column quantized implementation, which also handles
# negative/wide-range/timestamp keys the 31-bit mask here silently
# scrambled). Use layout.write_zordered, or
# compact_parquet(zorder_cols=...) for the maintenance-pass shape.
