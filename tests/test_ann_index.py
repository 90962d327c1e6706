"""Persisted IVF-PQ index lifecycle (operators/ann_index.py):
round-trip identity, fresh-session restart survival, incremental
append convergence, and the registered queries' oracle differentials
(VERDICT r8 next-round item 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_library_spark.operators.ann_index import (
    append_ivf_pq_index,
    build_ivf_pq_index,
    ivf_pq_search,
    read_ivf_pq_index,
    rebalance_ivf_pq_index,
    write_ivf_pq_index,
)
from map_reduce_library_spark.operators.similarity import ivf_pq_topk
from map_reduce_library_spark.tables import load_table

from conftest import SF_SMOKE, assert_oracle_match

REPO_ROOT = __import__("pathlib").Path(__file__).resolve().parents[1]

DIM = 64
K = 5
N_Q = 20


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_persisted_index_reproduces_in_session_topk(spark, emb, tmp_path):
    """write → read → search must be row-identical to the in-session
    ivf_pq_topk with the same geometry (same seed centroids, same
    codebooks, same probe width)."""
    expected = _rows(
        ivf_pq_topk(
            emb, F.col("vec_id") < N_Q, K, dim=DIM,
            n_centroids=16, n_probe=2,
        )
    )
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    got = _rows(
        ivf_pq_search(
            read_ivf_pq_index(spark, path),
            emb.where(F.col("vec_id") < N_Q),
            K, DIM, n_probe=2,
        )
    )
    assert got == expected and len(got) == N_Q * K


def test_index_survives_session_restart(spark, emb, tmp_path):
    """The restart-survival contract: a DIFFERENT session (fresh
    SparkSession state, fresh catalog — ``newSession`` shares only the
    SparkContext) serves the same top-k from the parquet artifacts,
    with no access to the builder session's checkpoints or the
    original float corpus relation."""
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    expected = _rows(
        ivf_pq_search(
            read_ivf_pq_index(spark, path),
            emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2,
        )
    )

    fresh = spark.newSession()
    emb2 = load_table(fresh, SF_SMOKE, "embeddings")
    got = _rows(
        ivf_pq_search(
            read_ivf_pq_index(fresh, path),
            emb2.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2,
        )
    )
    assert got == expected


def test_append_converges_with_frozen_train_batch_build(spark, emb, tmp_path):
    """FAISS add-discipline convergence: build(A) + append(B) serves
    exactly what build(A∪B, train=A) serves — cell assignment and PQ
    codes depend only on the frozen centroids/codebooks, so arrival
    order cannot change any answer."""
    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    p1 = str(tmp_path / "inc")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), p1)
    append_ivf_pq_index(spark, p1, b, DIM)
    p2 = str(tmp_path / "batch")
    write_ivf_pq_index(
        build_ivf_pq_index(emb, DIM, n_centroids=16, train=a), p2
    )
    q = emb.where(F.col("vec_id") < N_Q)
    r1 = _rows(ivf_pq_search(read_ivf_pq_index(spark, p1), q, K, DIM, n_probe=2))
    r2 = _rows(ivf_pq_search(read_ivf_pq_index(spark, p2), q, K, DIM, n_probe=2))
    assert r1 == r2 and len(r1) == N_Q * K


def test_append_never_rescans_existing_rows(spark, emb, tmp_path):
    """The append pass reads ONLY the new vectors plus the two tiny
    fitted artifacts: after append, the cells table holds exactly
    old∪new rows and the pre-existing rows are byte-identical (no
    re-assignment, no re-encode of the old corpus)."""
    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    before = _rows(read_ivf_pq_index(spark, path).cells)
    append_ivf_pq_index(spark, path, b, DIM)
    after = read_ivf_pq_index(spark, path)
    old_rows = _rows(after.cells.where(F.col("vec_id") < 250))
    assert old_rows == before
    assert after.cells.count() == emb.count()
    assert after.codes.count() == emb.count() * 4  # PQ_M subspaces


def test_delete_removes_rows_and_answers_never_return_deleted(
    spark, emb, tmp_path
):
    """FAISS remove_ids semantics: after deleting an id slice, the
    row tables hold exactly the survivors, the fitted artifacts are
    byte-identical (deletion never re-fits), and no served answer
    ever names a deleted neighbor."""
    from pyspark.sql import functions as F2

    from map_reduce_library_spark.operators.ann_index import (
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    before = read_ivf_pq_index(spark, path)
    cents_before = _rows(before.centroids)
    cbs_before = _rows(before.codebooks)
    doomed = emb.where(
        (F.col("vec_id") >= N_Q) & (F2.pmod("vec_id", F2.lit(5)) == 0)
    ).select("vec_id")
    doomed_ids = {r.vec_id for r in doomed.collect()}
    assert doomed_ids

    delete_from_ivf_pq_index(spark, path, doomed)
    after = read_ivf_pq_index(spark, path)
    assert _rows(after.centroids) == cents_before
    assert _rows(after.codebooks) == cbs_before
    left_ids = {r.vec_id for r in after.cells.select("vec_id").collect()}
    assert left_ids.isdisjoint(doomed_ids)
    assert after.cells.count() == emb.count() - len(doomed_ids)
    assert after.codes.count() == (emb.count() - len(doomed_ids)) * 4

    served = ivf_pq_search(
        after, emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2
    )
    neighbors = {r.neighbor_id for r in served.collect()}
    assert neighbors.isdisjoint(doomed_ids)


def test_replayed_append_is_row_idempotent(spark, emb, tmp_path):
    """code-review r9: the ADC scorer SUMS per-neighbor code
    contributions, so a crash-retried append must not duplicate rows
    (a duplicated codes row inflates that neighbor's cosine by √2
    silently). Appending the same batch twice leaves the row tables —
    and therefore every served answer — identical to one append."""
    from map_reduce_library_spark.operators.ann_index import (
        append_ivf_pq_index,
    )

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    append_ivf_pq_index(spark, path, b, DIM)
    q = emb.where(F.col("vec_id") < N_Q)
    once = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM, n_probe=2)
    )

    append_ivf_pq_index(spark, path, b, DIM)  # at-least-once redelivery
    idx = read_ivf_pq_index(spark, path)
    assert idx.cells.count() == emb.count()
    assert idx.codes.count() == emb.count() * 4
    assert _rows(ivf_pq_search(idx, q, K, DIM, n_probe=2)) == once


def test_append_crash_between_writes_repairs_on_retry(spark, emb, tmp_path):
    """code-review r9 round 2: the replay guard must be PER TABLE — a
    crash after the cells write but before the codes write must leave
    the retry able to append the missing codes rows (a cells-keyed
    guard would no-op the retry and strand the batch with no codes,
    invisible to every answer). Simulate by appending cells only,
    then running the real append."""
    import os

    from map_reduce_library_spark.operators.ann_index import (
        append_ivf_pq_index,
    )
    from map_reduce_library_spark.operators.similarity import (
        ivf_assign_cells,
    )

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)

    # crash window: cells landed, codes did not (the partitioned
    # append the real code path performs)
    idx = read_ivf_pq_index(spark, path)
    ivf_assign_cells(
        b, 0, n_probe=1, centroids=idx.centroids
    ).select("vec_id", "cell").repartition("cell").write.mode(
        "append"
    ).partitionBy("cell").parquet(os.path.join(path, "cells"))

    append_ivf_pq_index(spark, path, b, DIM)  # the retry
    healed = read_ivf_pq_index(spark, path)
    assert healed.cells.count() == emb.count()  # no cells duplicates
    assert healed.codes.count() == emb.count() * 4  # codes repaired

    q = emb.where(F.col("vec_id") < N_Q)
    ref_path = str(tmp_path / "ref")
    write_ivf_pq_index(
        build_ivf_pq_index(emb, DIM, n_centroids=16, train=a), ref_path
    )
    want = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, ref_path), q, K, DIM,
                      n_probe=2)
    )
    assert _rows(ivf_pq_search(healed, q, K, DIM, n_probe=2)) == want


def test_append_into_metadata_index_carries_and_validates(
    spark, emb, tmp_path
):
    """code-review r9 round 2: appending into a metadata-built index
    must carry the metadata columns (appended rows would otherwise
    read label=NULL and be invisible to filtered search) and must
    reject a batch lacking them."""
    import pytest

    from map_reduce_library_spark.operators.ann_index import (
        append_ivf_pq_index,
    )

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(
        build_ivf_pq_index(
            a, DIM, n_centroids=16, metadata_cols=["label"]
        ),
        path,
    )
    with pytest.raises(ValueError, match="lacks"):
        append_ivf_pq_index(spark, path, b.drop("label"), DIM)

    append_ivf_pq_index(spark, path, b, DIM)
    idx = read_ivf_pq_index(spark, path)
    assert idx.cells.where(F.col("label").isNull()).count() == 0
    served = ivf_pq_search(
        idx, emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2,
        filter_cols=["label"],
    ).collect()
    labels = {
        r.vec_id: r.label for r in emb.select("vec_id", "label").collect()
    }
    appended_hits = [
        r for r in served if r.neighbor_id >= 250
    ]
    assert appended_hits, "appended vectors must be visible to filtered search"
    assert all(
        labels[r.query_id] == labels[r.neighbor_id] for r in served
    )


def test_compaction_marker_clears_even_on_single_file_tables(
    spark, emb, tmp_path
):
    """code-review r9 round 2: a compaction that crashed after its
    renames+deletes (one compacted file + the tmp marker left) must
    clear the marker on the next pass instead of re-triggering the
    marker-driven repair forever."""
    import pathlib

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    # compact_ivf_pq_index plants a ROOT marker before its per-cell
    # loop; a crash inside the loop leaves it plus the dying cell's
    # own marker (each cell dir was written as a single file)
    root_marker = pathlib.Path(path, "cells", ".compact_tmp")
    root_marker.mkdir()
    cell_dir = sorted(pathlib.Path(path, "cells").glob("cell=*"))[0]
    marker = cell_dir / ".compact_tmp"
    marker.mkdir()
    read_ivf_pq_index(spark, path)  # triggers the marker-driven repair
    assert not marker.exists(), "cell marker must clear on the repair"
    assert not root_marker.exists(), "root marker must clear on the repair"


def test_interrupted_delete_heals_to_a_superset_state(spark, emb, tmp_path):
    """code-review r9: the delete swap is a rename protocol whose
    crash states heal on the next read. Simulate the two windows:
    (a) crash between the two renames — src missing, .old present →
    restored to the PRE-delete table (delete lost, nothing
    corrupted); (b) crash before any rename — stale .rewrite beside
    an intact src → discarded."""
    import os
    import shutil

    from map_reduce_library_spark.operators.ann_index import (
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    total = emb.count()

    # (a) mid-swap crash: cells moved aside, rewrite staged
    os.rename(f"{path}/cells", f"{path}/.cells_old")
    spark.read.parquet(f"{path}/.cells_old").where(
        F.col("vec_id") % 2 == 0
    ).write.parquet(f"{path}/.cells_rewrite")
    healed = read_ivf_pq_index(spark, path)
    assert healed.cells.count() == total  # pre-delete superset
    assert not os.path.exists(f"{path}/.cells_old")
    assert not os.path.exists(f"{path}/.cells_rewrite")

    # (b) stale staging beside an intact table
    shutil.copytree(f"{path}/codes", f"{path}/.codes_rewrite")
    healed = read_ivf_pq_index(spark, path)
    assert healed.codes.count() == total * 4
    assert not os.path.exists(f"{path}/.codes_rewrite")

    # and a real delete still works after all that
    doomed = emb.where(F.col("vec_id") == 42).select("vec_id")
    delete_from_ivf_pq_index(spark, path, doomed)
    left = read_ivf_pq_index(spark, path)
    assert left.cells.count() == total - 1


def test_read_heals_crashed_compaction_duplicates_before_serving(
    spark, emb, tmp_path
):
    """code-review r9: a compact_index crash can leave transient
    duplicate rows (its monotone-superset protocol), which the ADC
    sums would read as √2-inflated cosines. A leftover .compact_tmp
    marks the crash; read_ivf_pq_index must force the full-dedup
    repair before serving. On the partitioned layout compaction (and
    its crash) is per cell directory: duplicate one cell's code rows
    and plant the marker there — the healed serve equals the clean
    answer."""
    import pathlib

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    q = emb.where(F.col("vec_id") < N_Q)
    clean = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM, n_probe=2)
    )

    cell_dir = str(sorted(pathlib.Path(path, "codes").glob("cell=*"))[0])
    dup = spark.read.parquet(cell_dir)
    dup.write.mode("append").parquet(cell_dir)  # crash-window dupes
    # the crash state compact_ivf_pq_index can leave: its root marker
    # (planted before the loop) plus the dying cell's own marker
    pathlib.Path(path, "codes", ".compact_tmp").mkdir()
    pathlib.Path(cell_dir, ".compact_tmp").mkdir()

    healed_idx = read_ivf_pq_index(spark, path)
    assert healed_idx.codes.count() == emb.count() * 4
    assert _rows(ivf_pq_search(healed_idx, q, K, DIM, n_probe=2)) == clean


def test_compacting_row_tables_preserves_the_answer(spark, emb, tmp_path):
    """The index's row tables are append-only parquet with unique
    rows by construction, so the per-partition whole-row-dedup
    rewrite of ``compact_ivf_pq_index`` is safe maintenance: after an
    append (a second file per touched cell directory) + full
    compaction, the served top-k is unchanged and the file count
    shrinks back toward one file per cell."""
    import pathlib

    from map_reduce_library_spark.operators.ann_index import (
        append_ivf_pq_index,
        compact_ivf_pq_index,
    )

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    append_ivf_pq_index(spark, path, b, DIM)
    q = emb.where(F.col("vec_id") < N_Q)
    before = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM, n_probe=2)
    )

    def n_files(part):
        return sum(
            1
            for p in pathlib.Path(path, part).rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        )

    files_before = n_files("cells") + n_files("codes")
    compact_ivf_pq_index(spark, path, full=True)
    after = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM, n_probe=2)
    )
    assert after == before
    assert n_files("cells") + n_files("codes") < files_before


def test_persisted_query_matches_oracle(spark):
    assert_oracle_match(spark, "ivf_pq_persisted_topk")


def test_deleted_query_matches_oracle(spark):
    assert_oracle_match(spark, "ivf_pq_deleted_topk")


def test_filtered_query_matches_oracle(spark):
    assert_oracle_match(spark, "ivf_pq_filtered_topk")


def test_filtered_search_only_pairs_matching_metadata(spark, emb, tmp_path):
    """Every (query, neighbor) the filtered compressed search returns
    shares the query's label; with the filter off, cross-label pairs
    appear (the filter is doing real work on this corpus)."""
    from map_reduce_library_spark.operators.ann_index import (
        build_ivf_pq_index,
        ivf_pq_search,
        read_ivf_pq_index,
        write_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(
        build_ivf_pq_index(
            emb, DIM, n_centroids=16, metadata_cols=["label"]
        ),
        path,
    )
    idx = read_ivf_pq_index(spark, path)
    q = emb.where(F.col("vec_id") < N_Q)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}

    filtered = ivf_pq_search(
        idx, q, K, DIM, n_probe=2, filter_cols=["label"]
    ).collect()
    assert filtered
    assert all(
        labels[r.query_id] == labels[r.neighbor_id] for r in filtered
    )

    unfiltered = ivf_pq_search(idx, q, K, DIM, n_probe=2).collect()
    assert any(
        labels[r.query_id] != labels[r.neighbor_id] for r in unfiltered
    ), "corpus should contain cross-label neighbors for the contrast"


def test_incremental_query_matches_oracle(spark):
    assert_oracle_match(spark, "ivf_pq_incremental_topk")


# the executed-plan walker lives in the package (diagnostics.py,
# review r11) so tests and tools share one copy
from map_reduce_library_spark.diagnostics import (
    scan_file_counts as _scan_file_counts,
)


def test_serve_reads_only_probed_cells_files(spark, emb, tmp_path):
    """VERDICT r9 item 1: the row tables are hive-partitioned by cell
    (one file per cell directory at build), and the serve path pushes
    the probed cells into BOTH scans as a partition filter — files
    read scale with n_probe, never with the corpus. One query at
    n_probe=2 must read ≤2 of the 16 files of each row table, and the
    pruned serve must equal the unpruned in-session answer (pruning
    is invisible in the result)."""
    import pathlib

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    for part in ("cells", "codes"):
        dirs = sorted(pathlib.Path(path, part).glob("cell=*"))
        assert len(dirs) == 16, f"{part} must be partitioned by cell"
        for d in dirs:
            files = [p for p in d.glob("*.parquet")]
            assert len(files) == 1, "one file per cell at build"

    idx = read_ivf_pq_index(spark, path)
    one_query = emb.where(F.col("vec_id") == 7)
    served = ivf_pq_search(idx, one_query, K, DIM, n_probe=2)
    cells_reads = _scan_file_counts(served, "/cells")
    served2 = ivf_pq_search(idx, one_query, K, DIM, n_probe=2)
    codes_reads = _scan_file_counts(served2, "/codes")
    assert cells_reads and max(cells_reads) <= 2, cells_reads
    assert codes_reads and max(codes_reads) <= 2, codes_reads

    # pruning is semantically invisible: same answer as the in-session
    # engine over the full corpus
    expected = _rows(
        ivf_pq_topk(emb, F.col("vec_id") == 7, K, dim=DIM,
                    n_centroids=16, n_probe=2)
    )
    assert _rows(served) == expected


def test_append_batch_exact_duplicates_collapse(spark, emb, tmp_path):
    """ADVICE r10: a batch formed from a union of overlapping sources
    (the same row twice) must append each vector ONCE — a duplicated
    codes row would inflate that neighbor's ADC cosine by √2."""
    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    append_ivf_pq_index(spark, path, b.union(b), DIM)
    idx = read_ivf_pq_index(spark, path)
    assert idx.cells.count() == emb.count()
    assert idx.codes.count() == emb.count() * 4


def test_append_batch_conflicting_ids_raise(spark, emb, tmp_path):
    """ADVICE r10: the same id arriving on rows that DISAGREE (a
    different vector under one id) has no right answer — the append
    must refuse loudly instead of encoding an arbitrary row."""
    import pytest
    from pyspark.sql import functions as F2

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    mutated = b.withColumn(
        "embedding",
        F2.transform("embedding", lambda x: x * F2.lit(2.0)),
    )
    with pytest.raises(ValueError, match="conflicting"):
        append_ivf_pq_index(spark, path, b.union(mutated), DIM)


def test_append_ignores_benign_extra_columns(spark, emb, tmp_path):
    """code-review r10: a union of overlapping sources whose rows
    differ only in a lineage column the index does NOT store (e.g. a
    per-source ingest tag) is unambiguous — the conflict check must
    compare only (id, vector, stored metadata), not every batch
    column, and the rows must append exactly once."""
    from pyspark.sql import functions as F2

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    tagged = b.withColumn("ingest_tag", F2.lit("src_a")).union(
        b.withColumn("ingest_tag", F2.lit("src_b"))
    )
    append_ivf_pq_index(spark, path, tagged, DIM)
    idx = read_ivf_pq_index(spark, path)
    assert idx.cells.count() == emb.count()
    assert idx.codes.count() == emb.count() * 4


def test_append_to_legacy_flat_index_without_codes_cell(
    spark, emb, tmp_path
):
    """ADVICE r10 (medium): a pre-upgrade index stores FLAT row tables
    and its codes table has no ``cell`` column; write/read explicitly
    support that layout, so append must too — it was the one lifecycle
    op that raised an unresolved-column AnalysisException there. The
    appended index must stay flat (no mixed layout under one root) and
    serve exactly what the frozen-train batch build serves."""
    import shutil

    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    path = str(tmp_path / "legacy")
    write_ivf_pq_index(build_ivf_pq_index(a, DIM, n_centroids=16), path)
    # Downgrade the row tables to the pre-upgrade flat layout: cells
    # flat (keeps its cell column), codes flat WITHOUT the home cell.
    # (a real pre-upgrade writer stored cell as long; the partitioned
    # read this downgrade starts from infers the partition column as
    # int, so pin it back)
    cells = (
        spark.read.parquet(path + "/cells")
        .withColumn("cell", F.col("cell").cast("long"))
        .localCheckpoint(eager=True)
    )
    codes = (
        spark.read.parquet(path + "/codes")
        .drop("cell")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(path + "/cells")
    shutil.rmtree(path + "/codes")
    cells.write.parquet(path + "/cells")
    codes.write.parquet(path + "/codes")

    append_ivf_pq_index(spark, path, b, DIM)
    idx = read_ivf_pq_index(spark, path)
    assert "cell" not in idx.codes.columns  # layout preserved
    assert idx.cells.count() == emb.count()
    assert idx.codes.count() == emb.count() * 4

    p2 = str(tmp_path / "batch")
    write_ivf_pq_index(
        build_ivf_pq_index(emb, DIM, n_centroids=16, train=a), p2
    )
    q = emb.where(F.col("vec_id") < N_Q)
    got = _rows(ivf_pq_search(idx, q, K, DIM, n_probe=2))
    want = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, p2), q, K, DIM, n_probe=2)
    )
    assert got == want and len(got) == N_Q * K


def test_interleaved_lifecycle_tracks_membership_model(spark, emb, tmp_path):
    """Integration across the whole lifecycle: a deterministic
    interleaving of appends, deletes, a replayed append, and a
    mid-sequence compaction must track a plain membership model — the
    row tables hold exactly the model's ids (×1 cells row, ×4 codes
    rows), and every serve's neighbors are members. Catches
    cross-operation interactions (e.g. appending after a delete's
    rename swap, compacting between ops) that the per-op tests
    cannot."""
    from map_reduce_library_spark.operators.ann_index import (
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    slice_a = emb.where(F.col("vec_id") < 200)
    write_ivf_pq_index(build_ivf_pq_index(slice_a, DIM, n_centroids=16), path)
    model = {r.vec_id for r in slice_a.select("vec_id").collect()}

    def check():
        idx = read_ivf_pq_index(spark, path)
        got = {r.vec_id for r in idx.cells.select("vec_id").collect()}
        assert got == model
        assert idx.codes.count() == len(model) * 4
        q = emb.where(F.col("vec_id") < N_Q)
        served = ivf_pq_search(idx, q, K, DIM, n_probe=2)
        assert {r.neighbor_id for r in served.collect()} <= model

    steps = [
        ("append", (F.col("vec_id") >= 200) & (F.col("vec_id") < 350)),
        ("delete", (F.col("vec_id") % 10 == 7)),
        ("append", (F.col("vec_id") >= 350)),
        # rebalance mid-sequence: appends above inflated the build's
        # cells, so the split is real; later deletes/appends then run
        # against the RE-CUT geometry (append assigns against the new
        # sub-centroids — the cross-op interaction worth catching)
        ("rebalance", None),
        ("compact", None),
        ("delete", (F.col("vec_id") % 10 == 4)),
        # replay of an already-applied batch: a no-op by the guard
        ("append", (F.col("vec_id") >= 350) & (F.col("vec_id") < 400)),
    ]
    for op, pred in steps:
        if op == "append":
            batch = emb.where(pred)
            append_ivf_pq_index(spark, path, batch, DIM)
            model |= {r.vec_id for r in batch.select("vec_id").collect()}
        elif op == "delete":
            doomed = emb.where(pred).select("vec_id")
            delete_from_ivf_pq_index(spark, path, doomed)
            model -= {r.vec_id for r in doomed.collect()}
        elif op == "rebalance":
            assert rebalance_ivf_pq_index(
                spark, path, target_rows_per_cell=15
            ) > 0
        else:
            compact_ivf_pq_index(spark, path, full=True)
        check()


def test_delete_everything_leaves_a_readable_empty_index(
    spark, emb, tmp_path
):
    """code-review r10 (severe): deleting EVERY remaining id used to
    stage a fileless partitioned directory (a partitionBy write of an
    empty relation emits only _SUCCESS) and swap it in — the table
    then failed schema inference on every later read, beyond any
    healer. The empty survivor set must land as a schema-bearing
    table: reads work, serves return nothing, and a later append
    repopulates."""
    from map_reduce_library_spark.operators.ann_index import (
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    delete_from_ivf_pq_index(spark, path, emb.select("vec_id"))

    wiped = read_ivf_pq_index(spark, path)  # must not raise
    assert wiped.cells.count() == 0
    assert wiped.codes.count() == 0
    q = emb.where(F.col("vec_id") < N_Q)
    assert ivf_pq_search(wiped, q, K, DIM, n_probe=2).count() == 0

    # the emptied index is still appendable (frozen artifacts intact)
    append_ivf_pq_index(spark, path, emb.where(F.col("vec_id") < 100), DIM)
    regrown = read_ivf_pq_index(spark, path)
    assert regrown.cells.count() == 100
    assert regrown.codes.count() == 100 * 4
    assert ivf_pq_search(regrown, q, K, DIM, n_probe=2).count() > 0


# ---- rebalance + writer lease (VERDICT r10 items 1 & 4) ----------------------


def _grown_index(spark, emb, tmp_path, n_centroids=8):
    """build(A) + append(B): an index whose cells have outgrown the
    build-time geometry — the rebalance use case."""
    path = str(tmp_path / "grown")
    a = emb.where(F.col("vec_id") < 250)
    b = emb.where(F.col("vec_id") >= 250)
    write_ivf_pq_index(
        build_ivf_pq_index(a, DIM, n_centroids=n_centroids), path
    )
    append_ivf_pq_index(spark, path, b, DIM)
    return path


def test_rebalance_restores_cell_bound_and_membership(
    spark, emb, tmp_path
):
    """Splitting hot cells must (a) reduce the max cell size to within
    the bound, (b) grow the centroid table by the split count, and
    (c) leave membership and codes EXACTLY as they were — a rebalance
    moves rows between directories, it never creates, drops, or
    re-encodes one."""
    path = _grown_index(spark, emb, tmp_path)
    idx = read_ivf_pq_index(spark, path)
    pre_max = idx.cells.groupBy("cell").count().agg(
        F.max("count")
    ).collect()[0][0]
    pre_cents = idx.centroids.count()
    pre_codes = _rows(idx.codes.select("vec_id", "sub", "code"))
    pre_members = _rows(idx.cells.select("vec_id"))

    n_split = rebalance_ivf_pq_index(
        spark, path, target_rows_per_cell=30
    )
    assert n_split > 0

    idx2 = read_ivf_pq_index(spark, path)
    post_max = idx2.cells.groupBy("cell").count().agg(
        F.max("count")
    ).collect()[0][0]
    assert post_max <= 2.0 * 30 < pre_max  # max_cell_factor default
    assert idx2.centroids.count() > pre_cents
    assert _rows(idx2.codes.select("vec_id", "sub", "code")) == pre_codes
    assert _rows(idx2.cells.select("vec_id")) == pre_members
    # every member's home cell exists in the centroid table (no
    # orphaned rows after the split)
    orphans = idx2.cells.join(
        idx2.centroids.select("cell"), "cell", "left_anti"
    )
    assert orphans.count() == 0


def test_rebalance_full_probe_answers_identical(spark, emb, tmp_path):
    """ADC scores depend only on codes + codebooks, never on which
    cell a row lives in — so with every cell probed, the rebalanced
    index must answer byte-identically to the pre-rebalance one. (At
    bounded n_probe only the PRUNING geometry differs, which is the
    point of the op.)"""
    path = _grown_index(spark, emb, tmp_path)
    q = emb.where(F.col("vec_id") < N_Q)
    pre = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM,
                      n_probe=10_000)
    )
    assert rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30) > 0
    post = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM,
                      n_probe=10_000)
    )
    assert pre == post and len(pre) == N_Q * K


def test_rebalance_noop_on_balanced_index(spark, emb, tmp_path):
    """A balanced index must be left untouched: 0 splits, no marker,
    no residue, identical relations."""
    import pathlib

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    pre = _rows(read_ivf_pq_index(spark, path).cells)
    assert rebalance_ivf_pq_index(spark, path) == 0
    assert not list(pathlib.Path(path).glob(".rebalance*"))
    assert not list(pathlib.Path(path).glob(".centroids_*"))
    assert _rows(read_ivf_pq_index(spark, path).cells) == pre


def test_rebalance_requires_partitioned_layout(spark, emb, tmp_path):
    """On the legacy flat layout there are no per-cell files to bound
    — rebalance must refuse loudly and point at rebuild."""
    import shutil

    path = str(tmp_path / "flat")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    for part in ("cells", "codes"):
        flat = (
            spark.read.parquet(f"{path}/{part}")
            .withColumn("cell", F.col("cell").cast("long"))
            .localCheckpoint(eager=True)
        )
        shutil.rmtree(f"{path}/{part}")
        flat.write.parquet(f"{path}/{part}")
    with pytest.raises(ValueError, match="flat layout"):
        rebalance_ivf_pq_index(spark, path, target_rows_per_cell=10)


def test_rebalance_crash_before_commit_rolls_back(
    spark, emb, tmp_path, monkeypatch
):
    """A writer that dies anywhere BEFORE the centroid swap must heal
    to exactly the pre-rebalance index: the marker's ``add``
    directories are rolled back, staging is dropped, and every
    relation is row-identical to before."""
    from map_reduce_library_spark.operators import ann_index as mod

    path = _grown_index(spark, emb, tmp_path)
    idx = read_ivf_pq_index(spark, path)
    pre = {
        part: _rows(getattr(idx, part))
        for part in ("centroids", "cells", "codes")
    }

    def die(fs, jvm, p):
        raise RuntimeError("simulated crash at the commit boundary")

    monkeypatch.setattr(mod, "_rebalance_commit", die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30)
    monkeypatch.undo()

    healed = read_ivf_pq_index(spark, path)  # heals on open
    for part in ("centroids", "cells", "codes"):
        assert _rows(getattr(healed, part)) == pre[part], part
    import pathlib

    assert not (pathlib.Path(path) / ".rebalance_tmp").exists()


def test_rebalance_crash_after_commit_rolls_forward(
    spark, emb, tmp_path, monkeypatch
):
    """A writer that dies AFTER the centroid swap (before garbage
    collection) must heal to exactly the post-rebalance index — the
    old hot-cell directories are dropped by the healer, never
    resurrected (resurrecting them would duplicate every moved row
    and inflate ADC sums)."""
    from map_reduce_library_spark.operators import ann_index as mod

    path = _grown_index(spark, emb, tmp_path)
    q = emb.where(F.col("vec_id") < N_Q)
    pre_full = _rows(
        ivf_pq_search(read_ivf_pq_index(spark, path), q, K, DIM,
                      n_probe=10_000)
    )
    pre_members = _rows(read_ivf_pq_index(spark, path).cells.select("vec_id"))

    def vanish(fs, jvm, p, hot, roots, marker):
        return None  # process death right after the commit rename

    monkeypatch.setattr(mod, "_rebalance_cleanup", vanish)
    assert rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30) > 0
    monkeypatch.undo()
    import pathlib

    assert (pathlib.Path(path) / ".rebalance_tmp").exists()  # died dirty

    healed = read_ivf_pq_index(spark, path)
    assert not (pathlib.Path(path) / ".rebalance_tmp").exists()
    assert _rows(healed.cells.select("vec_id")) == pre_members
    # no duplicated membership row anywhere (the inflate risk)
    assert healed.cells.groupBy("vec_id").count().where(
        F.col("count") > 1
    ).count() == 0
    post_full = _rows(ivf_pq_search(healed, q, K, DIM, n_probe=10_000))
    assert post_full == pre_full


def test_rebalanced_serve_still_prunes_to_probed_cells(
    spark, emb, tmp_path
):
    """After a rebalance the partition-pruning contract must hold on
    the NEW directory set: one query at n_probe=2 reads at most 2
    files per row table, and per-file row volume is back under the
    bound — the serve-cost story the op exists to restore. (Unsplit
    cells still hold one file per append batch — rebalance moves
    rows, compaction merges files; run both, the real maintenance
    sequence.)"""
    from map_reduce_library_spark.operators.ann_index import (
        compact_ivf_pq_index,
    )

    path = _grown_index(spark, emb, tmp_path)
    assert rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30) > 0
    compact_ivf_pq_index(spark, path, full=True)
    idx = read_ivf_pq_index(spark, path)
    one_query = emb.where(F.col("vec_id") == 7)
    served = ivf_pq_search(idx, one_query, K, DIM, n_probe=2)
    cells_reads = _scan_file_counts(served, "/cells")
    served2 = ivf_pq_search(idx, one_query, K, DIM, n_probe=2)
    codes_reads = _scan_file_counts(served2, "/codes")
    assert cells_reads and max(cells_reads) <= 2, cells_reads
    assert codes_reads and max(codes_reads) <= 2, codes_reads


def test_second_writer_conflicts_and_stale_lease_reclaims(
    spark, emb, tmp_path
):
    """VERDICT r10 item 4: a live ``_LEASE`` makes every maintenance
    op raise IndexWriterConflict (two-writer detection); a
    crash-stale lease (mtime older than the TTL) is reclaimed and the
    op proceeds; a clean op leaves no lease behind."""
    import os
    import time

    from map_reduce_library_spark.operators.ann_index import (
        IndexWriterConflict,
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
    )

    path = _grown_index(spark, emb, tmp_path)
    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as f:
        f.write("writer-A holds this")

    b1 = emb.where(F.col("vec_id") == 499)
    with pytest.raises(IndexWriterConflict, match="live maintenance lease"):
        append_ivf_pq_index(spark, path, b1, DIM)
    with pytest.raises(IndexWriterConflict):
        delete_from_ivf_pq_index(spark, path, b1.select("vec_id"))
    with pytest.raises(IndexWriterConflict):
        compact_ivf_pq_index(spark, path)
    with pytest.raises(IndexWriterConflict):
        rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30)

    # crash-stale: age the lease past the TTL and the next writer
    # reclaims it instead of deadlocking on a dead holder
    old = time.time() - 3600
    os.utime(lease, (old, old))
    assert rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30) > 0
    assert not os.path.exists(lease)  # released on completion

    # readers never mind a lease at all
    with open(lease, "w") as f:
        f.write("writer-B")
    assert read_ivf_pq_index(spark, path).cells.count() == emb.count()


def test_rebalance_preserves_metadata_columns(spark, emb, tmp_path):
    """A metadata-carrying index (filtered-search cells schema) must
    come through a rebalance with every (id, metadata) pair intact —
    moved rows keep their stored attributes, and filtered search
    still pairs only on matching metadata."""
    from pyspark.sql import functions as F2

    path = str(tmp_path / "meta")
    tagged = emb.withColumn(
        "label", F2.pmod(F2.col("vec_id"), F2.lit(3)).cast("long")
    )
    a = tagged.where(F.col("vec_id") < 250)
    b = tagged.where(F.col("vec_id") >= 250)
    write_ivf_pq_index(
        build_ivf_pq_index(a, DIM, n_centroids=8, metadata_cols=["label"]),
        path,
    )
    append_ivf_pq_index(spark, path, b, DIM)
    pre = _rows(read_ivf_pq_index(spark, path).cells.select("vec_id", "label"))

    assert rebalance_ivf_pq_index(spark, path, target_rows_per_cell=30) > 0
    idx = read_ivf_pq_index(spark, path)
    assert _rows(idx.cells.select("vec_id", "label")) == pre

    q = tagged.where(F.col("vec_id") < N_Q)
    served = ivf_pq_search(
        idx, q, K, DIM, n_probe=10_000, filter_cols=["label"]
    )
    got = served.join(
        tagged.select(F.col("vec_id").alias("query_id"),
                      F.col("label").alias("ql")),
        "query_id",
    ).join(
        tagged.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("nl")),
        "neighbor_id",
    )
    assert got.where(F.col("ql") != F.col("nl")).count() == 0
    assert served.count() > 0


def test_lazy_search_runs_no_jobs_and_matches_eager(spark, emb, tmp_path):
    """ADVICE r10: ``eager=False`` must construct the serve plan with
    ZERO Spark jobs (no checkpoint, no probed-cell collect — nothing
    pinned for a long-lived serving loop) and still answer
    byte-identically — pruning is semantically a no-op."""
    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    idx = read_ivf_pq_index(spark, path)
    q = emb.where(F.col("vec_id") < N_Q)
    want = _rows(ivf_pq_search(idx, q, K, DIM, n_probe=2))

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    lazy = ivf_pq_search(idx, q, K, DIM, n_probe=2, eager=False)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lazy construction must run no Spark jobs"
    assert _rows(lazy) == want and len(want) == N_Q * K


def test_reader_defers_healing_to_a_live_foreign_lease(
    spark, emb, tmp_path
):
    """Review r11 (severe): a reader running the rebalance healer
    during a LIVE op would roll back the writer's staged work and —
    past the commit point — strand the centroids table beyond repair.
    Readers must skip ALL residue repair while a foreign lease younger
    than the TTL exists, and heal normally once it is gone/stale."""
    import json
    import os
    import time

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    # plant in-flight-looking rebalance residue: a no-op plan marker
    marker = os.path.join(path, ".rebalance_tmp")
    with open(marker, "w") as f:
        json.dump({"drop": [], "add": []}, f)
    with open(os.path.join(path, "_LEASE"), "w") as f:
        f.write("rebalance host=elsewhere pid=1 token=deadbeef t=0")

    idx = read_ivf_pq_index(spark, path)  # must NOT heal
    assert os.path.exists(marker), "reader healed under a live lease"
    assert idx.cells.count() == emb.count()  # still serves

    # stale the lease: the next reader heals the residue away
    old = time.time() - 3600
    os.utime(os.path.join(path, "_LEASE"), (old, old))
    read_ivf_pq_index(spark, path)
    assert not os.path.exists(marker)


def test_release_never_deletes_a_reclaimers_lease(spark, emb, tmp_path):
    """Review r11: release is token-checked — a writer whose lease
    was reclaimed (TTL expiry) must not delete the reclaimer's live
    lease on its way out."""
    import os

    from map_reduce_library_spark.operators.ann_index import (
        _release_lease,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as f:
        f.write("append host=other pid=9 token=feedface t=1")
    _release_lease(spark, path)  # we hold no token for this path
    assert os.path.exists(lease), "release deleted a foreign lease"


def test_heartbeat_refreshes_only_our_lease(spark, emb, tmp_path):
    """Review r11: long ops renew their lease mtime (TTL/3 heartbeat)
    so mutual exclusion survives ops longer than the TTL; the
    heartbeat must decline once the lease is no longer ours."""
    import os
    import time

    from map_reduce_library_spark.operators.ann_index import (
        _acquire_lease,
        _heartbeat_lease_once,
        _release_lease,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    _acquire_lease(spark, path, "test")
    lease = os.path.join(path, "_LEASE")
    old = time.time() - 600
    os.utime(lease, (old, old))
    assert _heartbeat_lease_once(spark, path) is True
    assert os.path.getmtime(lease) > old + 500  # refreshed to ~now

    # replace with a foreign lease: heartbeat must decline, release
    # must leave it alone. (drop the ChecksumFileSystem's .crc sibling
    # from the fs.create'd original, or the out-of-band rewrite below
    # reads back as a checksum error — which _read_lease maps to
    # not-ours anyway, but the test wants the clean content path)
    os.remove(lease)
    crc = os.path.join(path, "._LEASE.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(lease, "w") as f:
        f.write("compact host=other pid=2 token=0ddba11 t=2")
    assert _heartbeat_lease_once(spark, path) is False
    _release_lease(spark, path)
    assert os.path.exists(lease)
    os.remove(lease)


def test_stale_reclaim_gives_back_a_freshly_replaced_lease(
    spark, emb, tmp_path, monkeypatch
):
    """Review r11 (TOCTOU): between observing a stale lease and
    claiming it, another writer may have reclaimed and re-created a
    FRESH one; the rename-claim must detect the fresh mtime, restore
    the file, and raise — never delete a competitor's live lease."""
    import os
    import time

    from map_reduce_library_spark.operators import ann_index as mod

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as f:
        f.write("append host=other pid=3 token=cafe t=3")
    old = time.time() - 3600
    os.utime(lease, (old, old))

    real_fs = mod._fs

    def racing_fs(spark_, p):
        fs, jvm = real_fs(spark_, p)

        class RacingFs:
            def __getattr__(self, name):
                return getattr(fs, name)

            def rename(self, src, dst):
                # simulate the competitor reclaiming + re-creating a
                # FRESH lease in the observe->claim window: refresh
                # the file's mtime just before our claim moves it
                if src.getName() == "_LEASE":
                    now = time.time()
                    os.utime(lease, (now, now))
                return fs.rename(src, dst)

        return RacingFs(), jvm

    monkeypatch.setattr(mod, "_fs", racing_fs)
    with pytest.raises(
        mod.IndexWriterConflict, match="refreshed by another writer"
    ):
        mod._acquire_lease(spark, path, "test")
    monkeypatch.undo()
    assert os.path.exists(lease), "the fresh lease must be restored"


def test_two_writer_stress_exactly_one_writer(
    spark, emb, tmp_path, monkeypatch
):
    """VERDICT r11 item 4: race real maintenance ops (append / delete /
    compact / rebalance) from two threads against one index, with a
    concurrent reader, and assert (a) at most one writer is ever past
    lease acquisition (instrumented depth counter), (b) losers raise
    IndexWriterConflict and succeed on retry, (c) the final index
    matches the membership model built from the ops that SUCCEEDED,
    (d) the reader never serves a fabricated id and never destroys a
    live op's work. Deterministic seeding; timing only changes which
    attempts lose, never the final state (every op retries to
    success)."""
    import threading
    import time

    import map_reduce_library_spark.operators.ann_index as ai
    from map_reduce_library_spark.operators.ann_index import (
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    base = emb.where(F.col("vec_id") < 150)
    write_ivf_pq_index(build_ivf_pq_index(base, DIM, n_centroids=16), path)
    model = {r.vec_id for r in base.select("vec_id").collect()}
    model_lock = threading.Lock()

    # instrument the lease: depth counts writers (and reader-heals)
    # currently past a successful acquire — mutual exclusion means it
    # never exceeds 1
    depth = {"cur": 0, "max": 0}
    depth_lock = threading.Lock()
    real_acquire, real_release = ai._acquire_lease, ai._release_lease

    def acq(spark_, p, op, ttl_ms=None):
        real_acquire(spark_, p, op, ttl_ms)
        with depth_lock:
            depth["cur"] += 1
            depth["max"] = max(depth["max"], depth["cur"])

    def rel(spark_, p):
        with depth_lock:
            depth["cur"] -= 1
        real_release(spark_, p)

    monkeypatch.setattr(ai, "_acquire_lease", acq)
    monkeypatch.setattr(ai, "_release_lease", rel)

    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    conflicts = {"n": 0}
    errors: list = []

    def run_to_success(fn):
        for _ in range(200):
            try:
                return fn()
            except ai.IndexWriterConflict:
                conflicts["n"] += 1
                time.sleep(0.05)
        raise AssertionError("op starved: 200 consecutive lease losses")

    def apply(op, pred):
        if op == "append":
            batch = emb.where(pred)
            run_to_success(
                lambda: append_ivf_pq_index(spark, path, batch, DIM)
            )
            ids = {r.vec_id for r in batch.select("vec_id").collect()}
            with model_lock:
                model.update(ids)
        elif op == "delete":
            doomed = emb.where(pred).select("vec_id")
            run_to_success(
                lambda: delete_from_ivf_pq_index(spark, path, doomed)
            )
            ids = {r.vec_id for r in doomed.collect()}
            with model_lock:
                model.difference_update(ids)
        elif op == "compact":
            run_to_success(lambda: compact_ivf_pq_index(spark, path))
        else:  # rebalance
            run_to_success(
                lambda: rebalance_ivf_pq_index(
                    spark, path, target_rows_per_cell=20
                )
            )

    def worker(steps):
        import traceback

        try:
            for op, pred in steps:
                apply(op, pred)
        except BaseException:  # surfaced after join
            errors.append(traceback.format_exc())

    # each thread's ops touch a DISJOINT id territory (T1 < 330 <= T2),
    # so the two threads' set effects commute and the final model is
    # deterministic whatever order the lease serializes the ops into
    # (within a thread, program order = model order); the CONTENTION is
    # still fully shared — same index, same lease, same row tables
    steps1 = [
        ("append", (F.col("vec_id") >= 150) & (F.col("vec_id") < 250)),
        ("delete", (F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 330)),
        ("append", (F.col("vec_id") >= 250) & (F.col("vec_id") < 330)),
        ("compact", None),
    ]
    steps2 = [
        ("append", (F.col("vec_id") >= 330) & (F.col("vec_id") < 420)),
        ("delete", (F.col("vec_id") % 10 == 6) & (F.col("vec_id") >= 330)),
        ("rebalance", None),
        ("append", (F.col("vec_id") >= 420)),
    ]

    stop_reader = threading.Event()
    reader_ok = {"serves": 0}

    def reader():
        q = emb.where(F.col("vec_id") < N_Q)
        while not stop_reader.is_set():
            try:
                idx = read_ivf_pq_index(spark, path)
                got = {
                    r.neighbor_id
                    for r in ivf_pq_search(idx, q, K, DIM, n_probe=2)
                    .collect()
                }
            except ai.IndexWriterConflict:
                continue  # residue owned by a live writer; try again
            except Exception:
                # reading DURING a swap is the documented single-writer
                # inconsistency (listing raced a rename); what matters
                # is it cannot FABRICATE ids or destroy live work
                continue
            assert got <= all_ids
            reader_ok["serves"] += 1

    threads = [
        threading.Thread(target=worker, args=(steps1,)),
        threading.Thread(target=worker, args=(steps2,)),
    ]
    rt = threading.Thread(target=reader, daemon=True)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    stop_reader.set()
    rt.join(timeout=30)
    assert not errors, errors
    assert depth["max"] == 1, "two writers were past acquire at once"
    assert reader_ok["serves"] > 0, "reader never served during stress"

    idx = read_ivf_pq_index(spark, path)
    got = {r.vec_id for r in idx.cells.select("vec_id").collect()}
    assert got == model
    assert idx.codes.count() == len(model) * 4
    served = ivf_pq_search(
        idx, emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2
    )
    assert {r.neighbor_id for r in served.collect()} <= model


def test_lost_lease_aborts_before_destructive_step(
    spark, emb, tmp_path, monkeypatch
):
    """ADVICE r11: when the heartbeat observes the lease gone or
    replaced (TTL reclaim during a long stall), the op must ABORT
    before its next destructive rename/commit instead of silently
    mutating the index alongside the reclaiming writer. Force the
    condition: shrink the heartbeat interval and make every heartbeat
    report 'lease lost' — the delete must raise IndexWriterConflict
    at its pre-swap check, and the index must still answer."""
    import map_reduce_library_spark.operators.ann_index as ai
    from map_reduce_library_spark.operators.ann_index import (
        delete_from_ivf_pq_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_pq_index(build_ivf_pq_index(emb, DIM, n_centroids=16), path)
    before = read_ivf_pq_index(spark, path).cells.count()

    monkeypatch.setattr(ai, "LEASE_TTL_MS", 1500)  # beat every 0.5 s
    monkeypatch.setattr(ai, "_heartbeat_lease_once", lambda s, p: False)
    with pytest.raises(ai.IndexWriterConflict, match="reclaimed"):
        delete_from_ivf_pq_index(
            spark, path, emb.where(F.col("vec_id") % 2 == 0).select("vec_id")
        )

    # the abort left at worst crash-protocol residue; the next read
    # heals it and serves (rows: full pre-delete count, or the state
    # after whichever table swaps beat the abort — never corrupt)
    idx = read_ivf_pq_index(spark, path)
    assert idx.cells.count() in (before, before - emb.where(
        F.col("vec_id") % 2 == 0
    ).count())
    served = ivf_pq_search(
        idx, emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2
    )
    assert served.count() > 0


def test_cross_process_lease_stress_exactly_one_writer(
    spark, emb, tmp_path, monkeypatch
):
    """VERDICT r12 item 4: the O_CREAT|O_EXCL lease claim is exercised
    today only between threads of one JVM; race a genuinely FOREIGN
    writer — a subprocess with its own SparkSession — over one index
    path through append/compact and assert (a) mutual exclusion holds
    across processes (both sides append ENTER/EXIT records to a shared
    O_APPEND log from inside the lease window; the merged log must
    strictly alternate), (b) the two processes' op windows genuinely
    overlapped (the child blocks until the parent signals go, so the
    lease was the only arbiter), (c) losers raise IndexWriterConflict
    and retry to success (a side starves if it keeps losing once the
    other side has finished its ops), (d) a concurrent reader never serves a
    fabricated id, (e) the final index equals the union membership
    model of both sides' disjoint id territories."""
    import os
    import subprocess
    import sys
    import textwrap
    import threading
    import time

    import map_reduce_library_spark.operators.ann_index as ai

    path = str(tmp_path / "idx")
    log = str(tmp_path / "lease_log")
    ready = tmp_path / "child_ready"
    go = tmp_path / "parent_go"
    parent_done = tmp_path / "parent_done"
    base = emb.where(F.col("vec_id") < 150)
    write_ivf_pq_index(build_ivf_pq_index(base, DIM, n_centroids=16), path)

    def logline(tag: str, kind: str) -> None:
        fd = os.open(log, os.O_APPEND | os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            os.write(fd, f"{kind} {tag} {time.time():.6f}\n".encode())
        finally:
            os.close(fd)

    real_acq, real_rel = ai._acquire_lease, ai._release_lease

    def acq(spark_, p, op, ttl_ms=None):
        real_acq(spark_, p, op, ttl_ms)
        logline("parent", "ENTER")

    def rel(spark_, p):
        logline("parent", "EXIT")
        real_rel(spark_, p)

    monkeypatch.setattr(ai, "_acquire_lease", acq)
    monkeypatch.setattr(ai, "_release_lease", rel)

    child_src = textwrap.dedent(f"""
        import json, os, sys, time
        sys.path.insert(0, {str(REPO_ROOT)!r})
        from pyspark.sql import SparkSession, functions as F
        spark = (
            SparkSession.builder.master("local[4]")
            .appName("lease-stress-child")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        import map_reduce_library_spark.operators.ann_index as ai
        from map_reduce_library_spark.tables import load_table

        LOG = {log!r}
        def logline(kind):
            fd = os.open(LOG, os.O_APPEND | os.O_CREAT | os.O_WRONLY, 0o644)
            try:
                os.write(fd, (kind + " child %.6f\\n" % time.time()).encode())
            finally:
                os.close(fd)
        real_acq, real_rel = ai._acquire_lease, ai._release_lease
        def acq(s, p, op, ttl_ms=None):
            real_acq(s, p, op, ttl_ms)
            logline("ENTER")
        def rel(s, p):
            logline("EXIT")
            real_rel(s, p)
        ai._acquire_lease, ai._release_lease = acq, rel

        emb = load_table(spark, {SF_SMOKE!r}, "embeddings")
        path = {path!r}
        conflicts = 0
        def run_to_success(fn):
            # only conflicts after the parent's ops are done count
            # against the budget; before that the parent may hold the
            # lease for as long as its ops take on a loaded host
            global conflicts
            tries = 0
            while tries < 400:
                try:
                    return fn()
                except ai.IndexWriterConflict:
                    conflicts += 1
                    if os.path.exists({str(parent_done)!r}):
                        tries += 1
                    time.sleep(0.05)
            raise AssertionError("child op starved")

        open({str(ready)!r}, "w").write("up")
        deadline = time.time() + 120
        while not os.path.exists({str(go)!r}):
            if time.time() > deadline:
                raise AssertionError("parent never signalled go")
            time.sleep(0.02)

        for lo, hi in ((200, 250), (250, 300)):
            batch = emb.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            )
            run_to_success(
                lambda b=batch: ai.append_ivf_pq_index(spark, path, b, 64)
            )
        run_to_success(lambda: ai.compact_ivf_pq_index(spark, path))
        print("CHILD_OK " + json.dumps({{"conflicts": conflicts}}))
        spark.stop()
    """)
    script = tmp_path / "lease_child.py"
    script.write_text(child_src)
    child = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    stop_reader = threading.Event()
    rt = None
    try:
        deadline = time.time() + 120
        while not ready.exists():
            assert child.poll() is None, child.communicate()[1][-2000:]
            assert time.time() < deadline, "child session never came up"
            time.sleep(0.1)

        conflicts = {"n": 0}
        give_up = time.time() + 480

        def run_to_success(fn):
            # only conflicts after the child has exited count against
            # the budget; while it runs, its back-to-back ops may hold
            # the lease for as long as they take on a loaded host
            tries = 0
            while tries < 400:
                try:
                    return fn()
                except ai.IndexWriterConflict:
                    conflicts["n"] += 1
                    if child.poll() is not None:
                        tries += 1
                    assert time.time() < give_up, (
                        "parent op starved while the child ran"
                    )
                    time.sleep(0.05)
            raise AssertionError("parent op starved")

        all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
        reader_ok = {"serves": 0}

        def reader():
            q = emb.where(F.col("vec_id") < N_Q)
            while not stop_reader.is_set():
                try:
                    idx = read_ivf_pq_index(spark, path)
                    got = {
                        r.neighbor_id
                        for r in ivf_pq_search(
                            idx, q, K, DIM, n_probe=2
                        ).collect()
                    }
                except ai.IndexWriterConflict:
                    continue
                except Exception:
                    continue  # mid-swap listing race; must not fabricate
                assert got <= all_ids
                reader_ok["serves"] += 1

        rt = threading.Thread(target=reader, daemon=True)
        rt.start()
        go.write_text("go")
        for i, (lo, hi) in enumerate(((150, 200), (300, 350))):
            batch = emb.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            )
            run_to_success(
                lambda b=batch: append_ivf_pq_index(spark, path, b, DIM)
            )
            if i == 0:
                # overlap guarantee: don't race ahead of the child's
                # cold JVM — its first lease must land while the
                # parent still has ops left, or assertion (b) below
                # degenerates to sequential runs
                deadline = time.time() + 240
                while "child" not in (
                    open(log).read() if os.path.exists(log) else ""
                ):
                    assert child.poll() is None, (
                        child.communicate()[1][-2000:]
                    )
                    assert time.time() < deadline, (
                        "child never took its first lease"
                    )
                    time.sleep(0.1)
        run_to_success(
            lambda: __import__(
                "map_reduce_library_spark.operators.ann_index",
                fromlist=["compact_ivf_pq_index"],
            ).compact_ivf_pq_index(spark, path)
        )
        parent_done.write_text("done")
        out, err = child.communicate(timeout=480)
        stop_reader.set()
        rt.join(timeout=30)
        assert child.returncode == 0, err[-3000:]
        assert "CHILD_OK" in out, out[-1000:]
    finally:
        # a failed assertion above must not leave the reader thread
        # running Spark jobs into later tests
        stop_reader.set()
        if child.poll() is None:
            child.kill()
        if rt is not None:
            rt.join(timeout=60)

    # (a) merged log strictly alternates ENTER/EXIT across processes
    events = []
    for line in open(log).read().splitlines():
        kind, tag, ts = line.split()
        events.append((float(ts), kind, tag))
    events.sort()
    open_tag = None
    for ts, kind, tag in events:
        if kind == "ENTER":
            assert open_tag is None, (
                f"{tag} entered while {open_tag} still held the lease"
            )
            open_tag = tag
        else:
            assert open_tag == tag, f"EXIT {tag} without its ENTER"
            open_tag = None
    assert open_tag is None, f"{open_tag} never exited"
    tags = {t for _, _, t in events}
    assert tags == {"parent", "child"}, tags
    # (b) the activity windows overlapped: each side started before
    # the other finished, so the lease was the only serializer
    first = {t: min(ts for ts, _, tt in events if tt == t) for t in tags}
    last = {t: max(ts for ts, _, tt in events if tt == t) for t in tags}
    assert first["parent"] < last["child"]
    assert first["child"] < last["parent"]

    # (e) final membership = base + both sides' disjoint territories
    model = set(range(350))
    idx = read_ivf_pq_index(spark, path)
    got = {r.vec_id for r in idx.cells.select("vec_id").collect()}
    assert got == model
    served = ivf_pq_search(
        idx, emb.where(F.col("vec_id") < N_Q), K, DIM, n_probe=2
    )
    assert {r.neighbor_id for r in served.collect()} <= model
