"""Small-file compaction + snapshot upsert + ORC round-trip."""

from pyspark.sql import functions as F

from conftest import SF_CORRECTNESS, SF_SMOKE, jobs_started_by

from map_reduce_library_spark.operators.maintenance import (
    compact_parquet,
    snapshot_upsert,
)
from map_reduce_library_spark.sources.readers import write_read_orc
from map_reduce_library_spark.tables import load_table


def test_compaction_reduces_file_count_losslessly(spark, tmp_path):
    src = str(tmp_path / "many")
    dst = str(tmp_path / "compact")
    orders = load_table(spark, SF_CORRECTNESS, "orders")
    orders.repartition(64).write.parquet(src)  # simulate small-file ingest
    n_small = len(spark.read.parquet(src).inputFiles())
    assert n_small >= 64

    got = compact_parquet(spark, src, dst, target_file_bytes=10**9)
    assert len(got.inputFiles()) < n_small
    assert got.count() == orders.count()
    assert got.exceptAll(orders).count() == 0


def test_snapshot_upsert_merge_semantics(spark):
    base = load_table(spark, SF_SMOKE, "orders")
    # Updates: modify 10 existing orders (zero their price) + insert 5 new.
    changed = base.orderBy("o_orderkey").limit(10).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    inserted = base.orderBy(F.col("o_orderkey").desc()).limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    updates = changed.unionByName(inserted)

    merged = snapshot_upsert(base, updates, ["o_orderkey"])
    assert merged.count() == base.count() + 5
    # The 10 matched keys carry the update's values now.
    zeroed = merged.join(
        changed.select("o_orderkey"), "o_orderkey"
    ).where(F.col("o_totalprice") == 0.0)
    assert zeroed.count() == 10
    # Keys are still unique after the merge.
    assert merged.select("o_orderkey").distinct().count() == merged.count()


def test_orc_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_SMOKE, "nation")
    got = write_read_orc(df, str(tmp_path / "orc"))
    assert got.schema == df.schema
    assert got.exceptAll(df).count() == 0


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """partitionOverwriteMode=dynamic: an overwrite write replaces ONLY
    the partitions present in the incoming frame — the idempotent
    backfill primitive for a partitioned 100-TB table (static mode
    would wipe every other partition)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, part string"
    )
    base.write.partitionBy("part").mode("overwrite").parquet(path)

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        spark.createDataFrame(
            [(99, "b")], "id long, part string"
        ).write.partitionBy("part").mode("overwrite").parquet(path)
    finally:
        spark.conf.set(key, prev if prev is not None else "static")

    got = {
        (r["id"], r["part"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a"), (99, "b"), (3, "c")}


def test_nested_struct_schema_pruning(spark, tmp_path):
    """Reading one subfield of a struct column must prune the scan to
    that subfield (ReadSchema shows only meta.lang) — nested column
    pruning is what keeps wide-metadata multimodal tables cheap to
    filter."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "nested")
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.struct(
            F.lit("en").alias("lang"),
            F.lit("x" * 100).alias("blob"),
            (F.col("id") * 2).alias("weight"),
        ).alias("meta"),
    )
    docs.write.parquet(path)
    back = spark.read.parquet(path).select(F.col("meta.lang").alias("lang"))
    plan = back._jdf.queryExecution().executedPlan().toString()
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "lang" in schema
    assert "blob" not in schema and "weight" not in schema


def test_snapshot_upsert_merge_query_oracle(spark):
    from tests.conftest import assert_oracle_match

    assert_oracle_match(spark, "snapshot_upsert_merge")


def test_snapshot_upsert_merge_is_single_lazy_plan(spark):
    """validate=False keeps MERGE lazy — building the merged DataFrame
    launches NO Spark job (local relations, so any job observed comes
    from the operator itself), while the validate=True probe eagerly
    runs one. Each call runs under its own job group, so jobs of other
    work in the application are not counted."""
    from map_reduce_library_spark.operators.maintenance import (
        snapshot_upsert,
    )

    base = spark.createDataFrame(
        [(i, "old") for i in range(10)], "k bigint, v string"
    )
    delta = spark.createDataFrame(
        [(1, "new"), (99, "ins")], "k bigint, v string"
    )
    built = []
    lazy_jobs = jobs_started_by(
        spark,
        lambda: built.append(
            snapshot_upsert(base, delta, ["k"], validate=False)
        ),
    )
    assert lazy_jobs == 0, "validate=False still launched an eager job"
    # default probes eagerly
    assert jobs_started_by(
        spark, lambda: snapshot_upsert(base, delta, ["k"])
    ) >= 1
    assert built[0].count() == 11


def test_validate_true_probe_raises_on_duplicate_delta_keys(spark):
    import pytest as _pytest

    from map_reduce_library_spark.operators.maintenance import (
        snapshot_upsert,
    )

    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    dup_delta = spark.createDataFrame(
        [(2, "x"), (2, "y")], "k bigint, v string"
    )
    with _pytest.raises(ValueError, match="multiple rows"):
        snapshot_upsert(base, dup_delta, ["k"])
    # validate=False skips the probe; resolution becomes caller's duty
    merged = snapshot_upsert(base, dup_delta, ["k"], validate=False)
    assert merged.count() == 3


def test_compact_index_rejects_partitioned_layout(spark, tmp_path):
    import pytest as _pytest

    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    path = str(tmp_path / "part_table")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, p string"
    ).write.partitionBy("p").parquet(path)
    with _pytest.raises(ValueError, match="flat parquet directory"):
        compact_index(spark, path)


def test_compact_index_full_pass_repairs_crash_duplicates(
    spark, tmp_path
):
    """A crash window leaves whole-row duplicates; the documented
    repair is a full=True pass — its whole-row dedup restores exactly
    the original row multiset. Also pins the incremental default:
    files at/over target_file_bytes are left untouched."""
    from map_reduce_library_spark.operators.maintenance import (
        _list_data_files,
        compact_index,
    )

    path = str(tmp_path / "idx")
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS INT) AS band_id",
        "md5(CAST(id AS STRING)) AS band_sig"
    )
    df.coalesce(1).write.parquet(path)
    # simulate a mid-window crash: the same rows appended again
    df.coalesce(2).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 2000

    n_files = compact_index(spark, path, full=True)
    assert n_files == 1
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert got.distinct().count() == 1000

    # incremental default skips files already at target size:
    # with a 1-byte target every file is "large" -> no-op
    before = {p.toString() for p in _list_data_files(spark, path)}
    spark.range(5).selectExpr(
        "id + 5000 AS doc_id", "CAST(id AS INT) AS band_id",
        "md5(CAST(id AS STRING)) AS band_sig"
    ).coalesce(1).write.mode("append").parquet(path)
    compact_index(spark, path, target_file_bytes=1)
    after = {p.toString() for p in _list_data_files(spark, path)}
    assert before <= after, "incremental pass rewrote at-target files"
    assert spark.read.parquet(path).count() == 1005


def test_compact_index_geometric_policy_spares_accumulator(
    spark, tmp_path
):
    """ADVICE r7: a below-target accumulator must NOT be re-rewritten
    on every cadence tick while small appends trickle in — the
    largest sub-target file joins the merge only when the other small
    files' combined bytes at least match it (LSM merge invariant)."""
    from map_reduce_library_spark.operators.maintenance import (
        _list_data_files,
        compact_index,
    )

    path = str(tmp_path / "idx")
    spark.range(200_000).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS band_sig"
    ).coalesce(1).write.parquet(path)
    (acc,) = _list_data_files(spark, path)

    # One tiny append (far smaller than the accumulator): incremental
    # pass must leave the accumulator file in place untouched.
    spark.range(5).selectExpr(
        "id + 1000000000 AS doc_id", "md5(CAST(id AS STRING)) AS band_sig"
    ).coalesce(1).write.mode("append").parquet(path)
    compact_index(spark, path)  # default 128 MiB target: all "small"
    names = {p.getName() for p in _list_data_files(spark, path)}
    assert acc.getName() in names, "geometric policy rewrote the accumulator"
    assert spark.read.parquet(path).count() == 200_005

    # Enough comparable-sized appends to outweigh it -> all merge.
    for i in range(3):
        spark.range(200_000).selectExpr(
            f"id + {(2 + i) * 1000000000} AS doc_id",
            "md5(CAST(id AS STRING)) AS band_sig",
        ).coalesce(1).write.mode("append").parquet(path)
    n_files = compact_index(spark, path)
    assert n_files == 1
    assert spark.read.parquet(path).count() == 800_005


def test_compact_index_crash_residue_forces_repair(spark, tmp_path):
    """ADVICE r7: the full=True repair must have a real caller — a
    pass that finds .compact_tmp inside the index dir knows the
    previous pass died mid-protocol and self-heals (whole-table
    dedup), even when every file is at target size."""
    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    path = str(tmp_path / "idx")
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS band_sig"
    )
    df.coalesce(1).write.parquet(path)
    # Crash window: compacted copy renamed in, old file not deleted,
    # tmp dir left behind.
    df.coalesce(1).write.mode("append").parquet(path)
    (tmp_path / "idx" / ".compact_tmp").mkdir()
    assert spark.read.parquet(path).count() == 2000

    # target=1 byte: every file is at-target, so without residue
    # detection this pass would be a no-op and leave the duplicates.
    compact_index(spark, path, target_file_bytes=1)
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert got.distinct().count() == 1000
    assert not (tmp_path / "idx" / ".compact_tmp").exists()


def test_compact_parquet_publish_time_dedup(spark, tmp_path):
    """ADVICE r7: publish with dedup_keys holds exactly one row per
    key regardless of how many replayed copies the landing zone
    accumulated."""
    src = str(tmp_path / "landing")
    dst = str(tmp_path / "published")
    df = spark.range(500).selectExpr(
        "id AS event_id", "id % 7 AS user_id"
    )
    df.write.parquet(src)
    df.limit(100).write.mode("append").parquet(src)  # replayed batch

    got = compact_parquet(spark, src, dst, dedup_keys=["event_id"])
    assert got.count() == 500
    # multiplicity-preserving default unchanged
    dst2 = str(tmp_path / "published_raw")
    assert compact_parquet(spark, src, dst2).count() == 600


def test_compact_parquet_dedup_sizing_uses_surviving_ratio(
    spark, tmp_path
):
    """code-review r8: with dedup_keys, the output file count must be
    sized from the rows that SURVIVE the dedup, not the raw source
    bytes — a heavily-replayed landing zone would otherwise over-split
    the published table into many small files."""
    src = str(tmp_path / "landing")
    dst = str(tmp_path / "published")
    df = spark.range(2000).selectExpr(
        "id AS event_id", "md5(CAST(id AS STRING)) AS payload"
    )
    df.coalesce(1).write.parquet(src)
    for _ in range(9):  # 10x duplication
        df.coalesce(1).write.mode("append").parquet(src)
    src_bytes = sum(
        f.stat().st_size
        for f in (tmp_path / "landing").glob("*.parquet")
    )
    target = max(1, src_bytes // 10)  # raw-bytes sizing would give ~10 files
    got = compact_parquet(
        spark, src, dst, target_file_bytes=target, dedup_keys=["event_id"]
    )
    assert got.count() == 2000
    # surviving bytes are ~1/10 of source -> sized to very few files
    assert len(got.inputFiles()) <= 2


def test_compact_index_heals_legacy_sibling_tmp_residue(
    spark, tmp_path
):
    """code-review r8: a crash on the old release left its staging dir
    at the SIBLING path <index_dir>__compact_tmp plus inherited
    duplicates inside index_dir; a new pass must detect the orphan,
    delete it, and force the full dedup repair."""
    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    path = str(tmp_path / "idx")
    df = spark.range(300).selectExpr(
        "id AS doc_id", "CAST(id % 5 AS INT) AS band_id",
        "md5(CAST(id AS STRING)) AS band_sig"
    )
    df.coalesce(1).write.parquet(path)
    df.coalesce(1).write.mode("append").parquet(path)  # crash duplicates
    legacy = tmp_path / "idx__compact_tmp"
    df.limit(10).coalesce(1).write.parquet(str(legacy))  # orphan staging
    assert legacy.exists()

    # target=1: without residue detection this would be a no-op
    compact_index(spark, path, target_file_bytes=1)
    got = spark.read.parquet(path)
    assert got.count() == 300
    assert got.distinct().count() == 300
    assert not legacy.exists()


def test_compact_index_refuses_to_delete_foreign_sibling_dir(
    spark, tmp_path
):
    """ADVICE r9: the legacy sibling path is OUTSIDE the directory
    this library owns — if it holds anything that isn't Spark write
    residue (part-* files, _SUCCESS markers, hidden checksums), the
    pass must raise instead of silently destroying user data."""
    import pytest

    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    path = str(tmp_path / "idx")
    spark.range(100).selectExpr("id AS doc_id").coalesce(1).write.parquet(
        path
    )
    foreign = tmp_path / "idx__compact_tmp"
    foreign.mkdir()
    (foreign / "users_backup.csv").write_text("id\n1\n")

    with pytest.raises(ValueError, match="refusing to delete"):
        compact_index(spark, path, target_file_bytes=1)
    assert (foreign / "users_backup.csv").exists()


def test_compact_index_heals_legacy_tmp_with_spark_staging_dir(
    spark, tmp_path
):
    """code-review r9: a mid-write crash leaves a _temporary/
    DIRECTORY inside the legacy tmp — the most common crash shape —
    which must still classify as Spark residue and self-heal, not
    raise forever."""
    from map_reduce_library_spark.operators.maintenance import (
        compact_index,
    )

    path = str(tmp_path / "idx")
    spark.range(100).selectExpr("id AS doc_id").coalesce(1).write.parquet(
        path
    )
    legacy = tmp_path / "idx__compact_tmp"
    (legacy / "_temporary" / "0").mkdir(parents=True)
    (legacy / "part-00000-dead.snappy.parquet").write_bytes(b"PAR1")

    compact_index(spark, path, target_file_bytes=1)
    assert not legacy.exists()
    assert spark.read.parquet(path).count() == 100
