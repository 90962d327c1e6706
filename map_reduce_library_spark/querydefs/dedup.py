"""Dedup query corpus: exact, MinHash-LSH, n-gram Jaccard, SimHash,
embedding-cosine. Oracle SQL is generated from the same constants the
Spark operators use (same seeds, same md5 inputs), so both engines
compute identical candidates — the strongest possible differential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_library_spark.operators.dedup import (
    LSH_BANDS,
    LSH_BANDS_WIDE,
    LSH_ROWS,
    LSH_ROWS_WIDE,
    MINHASH_K,
    SHINGLE_N,
    connected_components,
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from map_reduce_library_spark.queries import register
from map_reduce_library_spark.querydefs._shared import shared_checkpoint
from map_reduce_library_spark.session import shuffle_partitions
from map_reduce_library_spark.tables import load_table

JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.4

# ---- shared LSH intermediates ---------------------------------------------
# Five queries consume the LSH candidate pairs (jaccard verification,
# clustering, keep-best, triangles, PageRank) and two consume the
# clusters. Materialize each ONCE per (session, sf_dir) with an eager
# localCheckpoint and reuse the checkpointed partitions — at 100 TB
# this is "write the pairs table to parquet once, read it five times",
# which is exactly how a production pipeline shares the candidate
# graph across downstream jobs. (`minhash_lsh_pairs` itself stays
# uncached: it IS the measured pipeline.)

# keyed wide:bool -> {(applicationId, sf_dir) -> checkpointed DF}
_SHARED_PAIRS: dict[bool, dict] = {}
_SHARED_CLUSTERS: dict[bool, dict] = {}
_SHARED_TOKEN_COUNTS: dict[tuple[str, str], DataFrame] = {}


_SHARED_WIDE_FP: dict[tuple[str, str], DataFrame] = {}


def shared_wide_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) 60-bit SimHash fingerprints materialized once per
    (session, sf_dir): the fingerprint query projects it, the
    hamming-pair query bands it — the whole tokenize→count→60-agg
    pipeline runs a single time for the family. At 100 TB this is the
    fingerprint table every SimHash consumer reads from parquet."""
    from map_reduce_library_spark.operators.dedup import simhash_wide

    return shared_checkpoint(
        _SHARED_WIDE_FP,
        spark,
        sf_dir,
        lambda: simhash_wide(counted=shared_token_counts(spark, sf_dir)),
    )


def shared_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, cnt) materialized once per (session, sf_dir) —
    the tokenize+count prefix both SimHash queries (string fingerprint
    and wide hamming pairs) would otherwise each rebuild. Same
    pattern as the shared LSH candidate graph: at 100 TB this is one
    parquet write read by every fingerprint variant."""
    from map_reduce_library_spark.operators.dedup import token_counts

    return shared_checkpoint(
        _SHARED_TOKEN_COUNTS,
        spark,
        sf_dir,
        lambda: token_counts(load_table(spark, sf_dir, "documents")),
    )


_SHARED_SHINGLES: dict[tuple[str, str], DataFrame] = {}


def shared_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) relation, checkpointed once per
    session: shingles are LSH-geometry-independent, so the narrow
    (K=12) and wide (K=128) signature pipelines read the SAME scan —
    the production shape where the shingle table is written to
    parquet once and every signature job reads it."""
    from map_reduce_library_spark.operators.dedup import shingles

    return shared_checkpoint(
        _SHARED_SHINGLES,
        spark,
        sf_dir,
        lambda: shingles(load_table(spark, sf_dir, "documents")),
    )


def shared_lsh_pairs(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    """The shared MinHash-LSH candidate graph, parameterized by
    geometry (VERDICT r8 item 2): ``wide=False`` is the K=12 / 4×3
    demo default; ``wide=True`` is the production K=128 / 16×8
    geometry (knee ≈ 0.71 Jaccard) — downstream graph consumers
    (clusters, keep-best, rates, PageRank, triangles) pick the graph
    quality they need instead of being welded to the demo width. Both
    geometries read the ONE shared shingle checkpoint; each is
    materialized once per (session, sf_dir)."""
    cache = _SHARED_PAIRS.setdefault(wide, {})
    geometry = (
        dict(bands=LSH_BANDS_WIDE, rows=LSH_ROWS_WIDE) if wide else {}
    )
    return shared_checkpoint(
        cache,
        spark,
        sf_dir,
        lambda: minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            shingle_df=shared_doc_shingles(spark, sf_dir),
            **geometry,
        ),
    )


_SHARED_EMB_PAIRS: dict[tuple[str, str], DataFrame] = {}


def shared_emb_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cosine) band-OR embedding near-dup pairs,
    materialized once per (session, sf_dir) on top of the shared
    banded-signature checkpoint — consumed by the pairs query itself,
    the semantic clusters, and the recall gate. Same one-write
    many-reads pattern as ``shared_lsh_pairs``."""
    from map_reduce_library_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
    )
    from map_reduce_library_spark.querydefs.similarity import (
        EMB_DIM,
        shared_banded_sigs,
    )

    return shared_checkpoint(
        _SHARED_EMB_PAIRS,
        spark,
        sf_dir,
        lambda: embedding_dup_pairs_lsh(
            load_table(spark, sf_dir, "embeddings"),
            COSINE_DUP_THRESHOLD,
            dim=EMB_DIM,
            sigs=shared_banded_sigs(spark, sf_dir),
        ),
    )


_SHARED_EXACT_EMB: dict[tuple[str, str], DataFrame] = {}


def shared_exact_emb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUADRATIC exact all-pairs cosine relation (ground truth for
    the LSH path), materialized once per (session, sf_dir): both
    ``embedding_cosine_dups`` and ``emb_dedup_recall`` consume it, and
    the blocked matmul is the most expensive single relation in the
    family — it must not run twice (code-review r6)."""
    from map_reduce_library_spark.operators.dedup import (
        embedding_dup_pairs,
    )

    return shared_checkpoint(
        _SHARED_EXACT_EMB,
        spark,
        sf_dir,
        lambda: embedding_dup_pairs(
            load_table(spark, sf_dir, "embeddings"), COSINE_DUP_THRESHOLD
        ),
    )


def shared_dedup_clusters(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    from map_reduce_library_spark.operators.dedup import connected_components

    cache = _SHARED_CLUSTERS.setdefault(wide, {})
    return shared_checkpoint(
        cache,
        spark,
        sf_dir,
        lambda: connected_components(
            shared_lsh_pairs(spark, sf_dir, wide=wide)
        ),
    )

# ---- shared SQL fragments (DuckDB dialect) --------------------------------
# The minhash fragment generators moved to querydefs/_fragments.py in
# round 11 (querydefs/pipeline.py needs them for decontamination_fuzzy,
# and a sibling-querydef import is the circular-import hazard the leaf
# module exists to prevent). Aliased here so every existing oracle
# composition below is byte-identical.

from map_reduce_library_spark.querydefs._fragments import (  # noqa: E402
    MINHASH_SHINGLE_CTE as _SHINGLE_CTE,
    MINHASH_SHX_CTE as _SHX_CTE,
    band_selects_sql as _band_selects_sql,
    minhash_aggs_sql as _minhash_aggs_sql,
)

_MINHASH_AGGS = _minhash_aggs_sql(MINHASH_K)
_BAND_SELECTS = _band_selects_sql(LSH_BANDS, LSH_ROWS)


@register(
    "exact_dedup_docs",
    oracle="""
    SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact full-text dedup with deterministic representative."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(K=12)+LSH(4x3) near-duplicate candidate pairs over
    word 3-gram shingles (shared shingle checkpoint — one scan feeds
    every signature geometry)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        shingle_df=shared_doc_shingles(spark, sf_dir),
    )


# ---- production-width MinHash (VERDICT r7 item 1) -------------------------
# K=128 in 16 bands x 8 rows: detection-probability knee at
# t = (1/16)^(1/8) ~= 0.71 Jaccard — the web-scale near-dedup setting
# (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" uses comparable widths). The oracle regenerates the full
# 128-permutation family from the same deterministic coefficients, so
# the differential covers every one of the 128 hash lanes and the
# 16-way band reshape, not just the narrow default geometry.
# Empirical S-curve: tests/test_dedup_scurve.py.

_WIDE_SIG_CTES = f"""
    {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_minhash_aggs_sql(LSH_BANDS_WIDE * LSH_ROWS_WIDE)}
            FROM shx GROUP BY doc_id),
    bands AS ({_band_selects_sql(LSH_BANDS_WIDE, LSH_ROWS_WIDE)})"""


@register(
    "minhash_lsh_pairs_wide",
    oracle=f"""
    WITH {_WIDE_SIG_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width MinHash(K=128)+LSH(16x8) candidate pairs —
    the geometry a real 0.7-0.8-Jaccard near-dedup target needs.
    Same shingle scan as the K=12 default — literally: both read the
    shared checkpointed (doc_id, shingle) relation, so only the
    per-doc signature aggregate (128 mins in ONE groupBy) and the
    band relation height (16 rows/doc vs 4) grow; the plan shape is
    identical at any K."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        bands=LSH_BANDS_WIDE,
        rows=LSH_ROWS_WIDE,
        shingle_df=shared_doc_shingles(spark, sf_dir),
    )


# ---- normalization pre-shingle (VERDICT r7 item 2) ------------------------
# Both engines build the SAME canonical text: lower → strip
# punctuation/symbols to spaces → collapse whitespace → trim. DuckDB
# regexp_replace needs the 'g' flag (Spark's replaces all matches by
# default); both regex engines support \\p{{L}}/\\p{{N}}.

_NORM_TEXT_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

_NORM_SHINGLE_CTE = f"""
tok AS (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS toks
        FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([{'||'.join(f"toks[i+{j}]" + ("||' '" if j < SHINGLE_N - 1 else "") for j in range(SHINGLE_N))}
                 FOR i IN generate_series(1, greatest(len(toks)-{SHINGLE_N - 1}, 0))]) AS shingle
  FROM tok
)"""


@register(
    "minhash_lsh_pairs_normalized",
    oracle=f"""
    WITH {_NORM_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_normalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH pairs over NORMALIZED text (casefold + punctuation
    strip + whitespace collapse before shingling) — catches
    trivially-reformatted duplicates raw shingling misses;
    tests/test_dedup2.py pins a case where only this variant finds
    the dup. Geometry kept at the K=12 default so this query isolates
    the normalization variable from the width variable."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), normalize=True
    )


# Hot-bucket cap exercised through the driver gate: at sf0.01 the band
# bucket histogram is {1: ~1820, 2: ~84, 3: ~4}, so a cap of 2 drops
# real buckets and the capped result genuinely differs from
# minhash_lsh_pairs. Production corpora would cap at ~10³; the small
# value here exists to prove the drop semantics cross-engine.
LSH_MAX_BUCKET = 2

_CAPPED_BANDS_CTES = f"""
    {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    keep AS (
      SELECT band_id, band_sig FROM bands
      GROUP BY band_id, band_sig
      HAVING count(*) <= {LSH_MAX_BUCKET}
    ),
    kept AS (
      SELECT b.doc_id, b.band_id, b.band_sig
      FROM bands b JOIN keep k
        ON b.band_id = k.band_id AND b.band_sig = k.band_sig
    )"""


@register(
    "minhash_lsh_pairs_capped",
    oracle=f"""
    WITH {_CAPPED_BANDS_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a JOIN kept b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs WITH the hot-bucket cap enabled —
    the production configuration (template-spam buckets dropped before
    the quadratic self-join; see operators/dedup.py::lsh_candidate_pairs)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        max_bucket=LSH_MAX_BUCKET,
        shingle_df=shared_doc_shingles(spark, sf_dir),
    )


@register(
    "lsh_hot_buckets_audit",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS})
    SELECT band_id, band_sig, count(*) AS n_members
    FROM bands GROUP BY band_id, band_sig
    HAVING count(*) > {LSH_MAX_BUCKET}
    """,
)
def lsh_hot_buckets_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit side-output for the capped run: every bucket the cap
    drops, with its member count — dropped data is logged, never
    silently lost."""
    from map_reduce_library_spark.operators.dedup import (
        lsh_bands,
        lsh_hot_buckets,
        minhash_signature,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    return lsh_hot_buckets(
        lsh_bands(minhash_signature(shingles(docs))), LSH_MAX_BUCKET
    )


# ---- incremental (ingest-time) dedup --------------------------------------
# The production topology: the corpus signature index is a persisted
# banded table, each ingest tick hashes only its own batch and probes
# the index. Modeled here by a deterministic hash split of `documents`
# into an "existing corpus" (90%) and an "incoming batch" (10%) — same
# md5-bucket idiom as operators.pipeline.hash_bucket, so batch
# membership is stable across engines and re-runs.
INGEST_PCT = 10
_NEW_DOC_PRED = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)"
    f" < {INGEST_PCT}"
)


def _ingest_split(spark: SparkSession, sf_dir: str):
    from map_reduce_library_spark.operators.pipeline import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return docs.where(b < INGEST_PCT), docs.where(b >= INGEST_PCT)


@register(
    "incremental_dedup_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    nd AS (SELECT doc_id FROM documents WHERE {_NEW_DOC_PRED})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
      AND (a.doc_id IN (SELECT doc_id FROM nd)
           OR b.doc_id IN (SELECT doc_id FROM nd))
    """,
)
def incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ingest tick of incremental LSH dedup: candidate pairs
    touching the incoming 10% batch, probed against the banded index
    of the other 90%. The oracle computes the SAME set the opposite
    way — full-corpus pairs filtered to new-doc membership — so the
    incremental plan's claim (tick union == batch answer) is what is
    being differentially tested."""
    from map_reduce_library_spark.operators.dedup import (
        incremental_lsh_pairs,
        lsh_bands,
        minhash_signature,
        shingles,
    )

    incoming, existing = _ingest_split(spark, sf_dir)
    index_bands = lsh_bands(minhash_signature(shingles(existing)))
    return incremental_lsh_pairs(index_bands, incoming)


@register(
    "ingest_dedup_verdict",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    nd AS (SELECT doc_id FROM documents WHERE {_NEW_DOC_PRED}),
    m AS (
      SELECT a.doc_id AS new_id, count(DISTINCT b.doc_id) AS c
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
      WHERE a.doc_id IN (SELECT doc_id FROM nd)
        AND b.doc_id NOT IN (SELECT doc_id FROM nd)
      GROUP BY 1
    )
    SELECT n.doc_id AS new_id,
           CAST(coalesce(m.c, 0) AS BIGINT) AS n_corpus_matches,
           coalesce(m.c, 0) > 0 AS is_dup_of_corpus
    FROM nd n LEFT JOIN m ON n.doc_id = m.new_id
    """,
)
def ingest_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing ingest decision: for every incoming doc, how
    many existing-corpus docs it LSH-collides with and whether it
    should be quarantined as a near-dup. Left join keeps clean docs
    (the common case) with an explicit zero."""
    from map_reduce_library_spark.operators.dedup import (
        lsh_bands,
        minhash_signature,
        shingles,
    )

    incoming, existing = _ingest_split(spark, sf_dir)
    index = lsh_bands(minhash_signature(shingles(existing))).select(
        F.col("doc_id").alias("corpus_id"), "band_id", "band_sig"
    )
    probe = lsh_bands(minhash_signature(shingles(incoming))).select(
        F.col("doc_id").alias("new_id"), "band_id", "band_sig"
    )
    matches = (
        index.join(F.broadcast(probe), ["band_id", "band_sig"])
        .groupBy("new_id")
        .agg(F.countDistinct("corpus_id").alias("n_corpus_matches"))
    )
    n = F.coalesce("n_corpus_matches", F.lit(0).cast("long"))
    return (
        incoming.select(F.col("doc_id").alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            "new_id",
            n.alias("n_corpus_matches"),
            (n > 0).alias("is_dup_of_corpus"),
        )
    )


@register(
    "incremental_exact_verdict",
    oracle=f"""
    WITH nd AS (SELECT doc_id, text FROM documents WHERE {_NEW_DOC_PRED}),
    ex AS (SELECT doc_id, text FROM documents WHERE NOT ({_NEW_DOC_PRED})),
    corp AS (SELECT text, min(doc_id) AS dup_of_corpus FROM ex GROUP BY 1),
    brep AS (SELECT text, min(doc_id) AS batch_rep FROM nd GROUP BY 1)
    SELECT n.doc_id AS new_id, c.dup_of_corpus, b.batch_rep,
           (c.dup_of_corpus IS NULL AND b.batch_rep = n.doc_id) AS is_kept
    FROM nd n
      LEFT JOIN corp c ON n.text IS NOT DISTINCT FROM c.text
      JOIN brep b ON n.text IS NOT DISTINCT FROM b.text
    """,
)
def incremental_exact_verdict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup vs the persisted digest index (the
    byte-identical companion of `incremental_dedup_pairs`): the
    oracle joins on raw text, the engine on (md5, length) digest keys
    with the index pruned by a broadcast semi-join before any
    aggregate — same verdicts, no corpus rescan, fixed-width shuffle
    keys."""
    from map_reduce_library_spark.operators.dedup import (
        incremental_exact_verdict,
        text_digests,
    )

    incoming, existing = _ingest_split(spark, sf_dir)
    return incremental_exact_verdict(text_digests(existing), incoming)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_inter / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_inter / (sa.sz + sb.sz - n_inter) >= {JACCARD_THRESHOLD}
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= threshold (ground truth for LSH)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


SIMHASH_HAM_MAX = 3


def _wide_fp_ctes() -> str:
    """CTE chain computing the shared 60-bit fingerprint relation
    ``ints(doc_id, sh)`` — the SQL twin of ``simhash_wide`` consumed
    by BOTH SimHash oracles, exactly as both Spark queries consume the
    one checkpointed ``shared_wide_fingerprints`` relation."""
    from map_reduce_library_spark.operators.dedup import (
        SIMHASH_HAM_BITS,
        _hex_digit_expr,
    )

    def dig(i: int) -> str:
        # DuckDB dialect: same ascii arithmetic, // for int division.
        return _hex_digit_expr(i).replace(" div ", " // ")

    n_digits = (SIMHASH_HAM_BITS + 3) // 4
    dig_cols = ", ".join(f"{dig(i + 1)} AS d{i}" for i in range(n_digits))
    aggs = []
    for j in range(SIMHASH_HAM_BITS):
        i, k = j // 4, j % 4
        aggs.append(
            f"sum(((d{i} // {2 ** k}) % 2) * 2 - 1) AS s{j}"
        )
    int_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * "
        f"{2 ** (SIMHASH_HAM_BITS - 1 - j)}"
        for j in range(SIMHASH_HAM_BITS)
    )
    return f"""
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, md5(tok) AS h FROM tok),
    digs AS (SELECT doc_id, {dig_cols} FROM h),
    sums AS (SELECT doc_id, {", ".join(aggs)} FROM digs GROUP BY doc_id),
    ints AS (SELECT doc_id, {int_expr} AS sh FROM sums)"""


@register(
    "simhash_fingerprint",
    oracle=f"""
    WITH {_wide_fp_ctes()}
    SELECT doc_id, sh AS simhash FROM ints
    """,
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash document fingerprint as a bigint
    (token-frequency weighted, 4-bits-per-md5-hex-digit votes) — the
    SAME fingerprint the hamming-pair query bands, read from the one
    checkpointed ``shared_wide_fingerprints`` relation so the whole
    tokenize→count→60-agg pipeline runs ONCE for the family. (The
    32-bit hex-parity string form remains available as
    ``operators.dedup.simhash`` for API parity; hamming distance on
    the bigint form is ``bit_count(a ^ b)`` in both engines.)"""
    return shared_wide_fingerprints(spark, sf_dir).select(
        "doc_id", F.col("sh").alias("simhash")
    )


def _ham_oracle() -> str:
    from map_reduce_library_spark.operators.dedup import (
        SIMHASH_HAM_BANDS,
        SIMHASH_HAM_BITS,
    )

    width = SIMHASH_HAM_BITS // SIMHASH_HAM_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_id, "
        f"(sh // {2 ** (width * b)}) % {2 ** width} AS band_val FROM ints"
        for b in range(SIMHASH_HAM_BANDS)
    )
    return f"""
    WITH {_wide_fp_ctes()},
    bands AS ({band_selects})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.sh, b.sh)) <= {SIMHASH_HAM_MAX}
    """


@register("simhash_hamming_dups", oracle=_ham_oracle())
def simhash_hamming_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: ALL pairs within hamming distance 3 of
    a 60-bit fingerprint, retrieved EXACTLY (not approximately) by
    4-band bucketing — pigeonhole: <= 3 differing bits over 4 slices
    leaves at least one slice identical, so the band self-join misses
    nothing. 15-bit bands keep buckets fine-grained (32768 values) so
    verification work stays near-linear on topically-clustered
    corpora. The third dedup family next to MinHash-Jaccard and
    embedding-cosine. Bands the checkpointed
    ``shared_wide_fingerprints`` relation (shared with
    ``simhash_fingerprint``)."""
    from map_reduce_library_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    return simhash_hamming_pairs(
        max_hamming=SIMHASH_HAM_MAX,
        sig=shared_wide_fingerprints(spark, sf_dir),
    )


@register(
    "embedding_cosine_dups",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
      /* zero-norm guard, mirroring operators/similarity._prep: 0/0
         cosine is NaN, and DuckDB orders NaN ABOVE every float, so an
         unguarded oracle would pass 'NaN >= threshold' and emit pairs
         the engine (numpy/Spark, NaN comparisons false) never makes.
         Line comments are unusable here: register() collapses the
         SQL to one line. */
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
    """,
)
def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs by exact cosine (blocked numpy
    matmul; 9-decimal rounding for cross-engine reproducibility).
    GROUND-TRUTH-ONLY: quadratic in the corpus however well blocked —
    the production path is ``embedding_cosine_dups_lsh`` below, and
    this variant is excluded from the bench headline exactly like
    ``ngram_jaccard_pairs``. Checkpoint-shared with
    ``emb_dedup_recall`` (one blocked matmul per session+sf)."""
    return shared_exact_emb_pairs(spark, sf_dir)


def _emb_lsh_oracle() -> str:
    from map_reduce_library_spark.querydefs._fragments import (
        oracle_banded_sigs_cte as _oracle_banded_sigs_cte,
    )

    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
      /* zero-norm guard, mirroring operators/similarity._prep: 0/0
         cosine is NaN, and DuckDB orders NaN ABOVE every float, so an
         unguarded oracle would pass 'NaN >= threshold' and emit pairs
         the engine (numpy/Spark, NaN comparisons false) never makes.
         Line comments are unusable here: register() collapses the
         SQL to one line. */
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    sigd AS (
      {_oracle_banded_sigs_cte('e')}
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9) AS cosine
    FROM sigd a JOIN sigd b
      ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
    """


@register("embedding_cosine_dups_lsh", oracle=_emb_lsh_oracle())
def embedding_cosine_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION embedding dedup: exact cosine scoring restricted to
    same-hyperplane-LSH-bucket pairs (the ``ann_lsh_topk`` bucketing
    applied to the dedup problem). The bucket self-join is a hash
    equi-join — Σ_b |bucket|² work, never the corpus cross product —
    so this is the variant to run at 100 TB; ``embedding_cosine_dups``
    (blocked all-pairs) is its ground truth."""
    return shared_emb_dup_pairs(spark, sf_dir)


def _emb_recall_oracle() -> str:
    from map_reduce_library_spark.queries import ORACLES

    return f"""
    WITH exact_pairs AS ({ORACLES["embedding_cosine_dups"]}),
    lsh_pairs AS ({ORACLES["embedding_cosine_dups_lsh"]})
    SELECT count(*) AS n_exact, count(l.vec_a) AS n_hits,
           CASE WHEN count(*) = 0 THEN NULL
                ELSE count(l.vec_a) / CAST(count(*) AS DOUBLE) END AS recall
    FROM exact_pairs e LEFT JOIN lsh_pairs l
      ON e.vec_a = l.vec_a AND e.vec_b = l.vec_b
    """


@register("emb_dedup_recall", oracle=_emb_recall_oracle())
def emb_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the production LSH-bucketed embedding dedup against
    the exact all-pairs ground truth — the ``ann_recall_at_k`` pattern
    applied to the dedup path, so the single-group hyperplane
    bucketing's miss rate is MEASURED, not assumed (its oracle alone
    only proves implementation parity). Contains the quadratic
    ground-truth side, so it is bench-excluded with the other
    ground-truth variants; the driver checks it at sf0.01.

    An empty ground-truth set yields recall NULL on BOTH engines (the
    unguarded 0/0 was an ANSI DIVIDE_BY_ZERO on Spark and NaN on
    DuckDB — divergent either way; code-review r6). The quadratic
    exact relation is checkpoint-shared with
    ``embedding_cosine_dups`` so a session running both computes the
    blocked matmul once."""
    exact = shared_exact_emb_pairs(spark, sf_dir).select(
        "vec_a", "vec_b"
    )
    lsh = shared_emb_dup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("la"), F.col("vec_b").alias("lb")
    )
    n_exact = F.count(F.lit(1))
    n_hits = F.count("la")
    return (
        exact.join(
            lsh,
            (exact.vec_a == lsh.la) & (exact.vec_b == lsh.lb),
            "left",
        )
        .agg(
            n_exact.alias("n_exact"),
            n_hits.alias("n_hits"),
            F.when(n_exact > 0, n_hits / n_exact.cast("double"))
            .alias("recall"),
        )
    )


def _emb_clusters_oracle() -> str:
    """Recursive-CTE twin of connected components over the band-OR
    embedding near-dup graph (the MinHash ``dedup_clusters`` pattern
    applied to the semantic-dedup side)."""
    from map_reduce_library_spark.querydefs._fragments import (
        oracle_banded_sigs_cte as _oracle_banded_sigs_cte,
    )

    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
      /* zero-norm guard, mirroring operators/similarity._prep: 0/0
         cosine is NaN, and DuckDB orders NaN ABOVE every float, so an
         unguarded oracle would pass 'NaN >= threshold' and emit pairs
         the engine (numpy/Spark, NaN comparisons false) never makes.
         Line comments are unusable here: register() collapses the
         SQL to one line. */
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    sigd AS (
      {_oracle_banded_sigs_cte('e')}
    ),
    epairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigd a JOIN sigd b
        ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
            >= {COSINE_DUP_THRESHOLD}
    ),
    und AS (
      SELECT vec_a AS src, vec_b AS dst FROM epairs
      UNION
      SELECT vec_b AS src, vec_a AS dst FROM epairs
    ),
    cc(node, label) AS (
      SELECT src AS node, src AS label FROM und
      UNION
      SELECT u.dst AS node, cc.label
      FROM cc JOIN und u ON cc.node = u.src
      WHERE cc.label < u.dst
    )
    SELECT node AS vec_id, min(label) AS cluster_id
    FROM cc GROUP BY node
    """


@register("emb_dedup_clusters", oracle=_emb_clusters_oracle())
def emb_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: connected components over the
    band-OR embedding near-dup graph → (vec_id, cluster_id), one
    cluster per group of mutually-near embeddings — the
    ``dedup_clusters`` composition applied to the embedding path, so
    both dedup families (lexical MinHash and semantic cosine) reach
    cluster granularity. Same min-label propagation + pointer
    jumping operator; the pairs come from the shared scored-pairs
    checkpoint (itself built on the shared banded signatures)."""
    pairs = shared_emb_dup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


_PAIRS_FROM_BANDS_CTE = """
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    )"""

_LSH_PAIRS_CTES = f"""
    {_SHINGLE_CTE},
    {_SHX_CTE},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shx GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    {_PAIRS_FROM_BANDS_CTE}"""

# The same candidate-pair relation at the PRODUCTION K=128 / 16×8
# geometry — the oracle twin of shared_lsh_pairs(wide=True).
_LSH_PAIRS_CTES_WIDE = f"""
    {_WIDE_SIG_CTES},
    {_PAIRS_FROM_BANDS_CTE}"""


@register(
    "ngram_jaccard_lsh",
    oracle=f"""
    WITH {_LSH_PAIRS_CTES_WIDE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           n_inter / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter i
      JOIN pairs p ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE n_inter / (sa.sz + sb.sz - n_inter) >= {JACCARD_THRESHOLD}
    """,
)
def ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup composition: exact Jaccard verification
    restricted to LSH candidate pairs — O(candidates), not O(n²).
    This is the query to run at 100 TB; `ngram_jaccard_pairs` is its
    ground truth. Candidates come from the PRODUCTION K=128 / 16×8
    graph (VERDICT r9 item 2 — the demo K=12 geometry admits
    ~0.3-Jaccard pairs, paying exact verification on junk candidates;
    the narrow graph remains exercised by the `dedup_clusters` /
    `dedup_keep_best` demo family)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, JACCARD_THRESHOLD,
        candidates=shared_lsh_pairs(spark, sf_dir, wide=True),
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    cc(node, label) AS (
      SELECT src AS node, src AS label FROM und
      UNION
      SELECT u.dst AS node, cc.label
      FROM cc JOIN und u ON cc.node = u.src
      WHERE cc.label < u.dst
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM cc GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    graph (iterative min-label propagation; the oracle is a recursive
    CTE computing the same min-reachable-label). cluster_id = min
    doc_id in the component — the canonical 'keep one representative
    per cluster' dedup output."""
    return shared_dedup_clusters(spark, sf_dir)


def _keep_best_oracle(wide: bool = False) -> str:
    # Compose from the leaf fragment module, NOT ORACLES[...]: reading
    # the shared registry at import time crashes under direct imports
    # of sibling querydef modules (circular import through queries.py
    # re-enters a partially-initialized `text` before its registrations
    # run — VERDICT r4 "What's wrong" §2).
    from map_reduce_library_spark.querydefs._fragments import TEXT_STATS_SQL

    return f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES_WIDE if wide else _LSH_PAIRS_CTES},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    cc(node, label) AS (
      SELECT src AS node, src AS label FROM und
      UNION
      SELECT u.dst AS node, cc.label
      FROM cc JOIN und u ON cc.node = u.src
      WHERE cc.label < u.dst
    ),
    clusters AS (SELECT node AS doc_id, min(label) AS cluster_id
                 FROM cc GROUP BY node),
    q AS (SELECT doc_id, quality_score FROM ({TEXT_STATS_SQL})),
    j AS (SELECT c.cluster_id, c.doc_id, q.quality_score
          FROM clusters c JOIN q USING (doc_id)),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY quality_score DESC, doc_id)
                   AS rn,
                 count(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j)
    SELECT cluster_id, doc_id AS best_doc_id,
           quality_score AS best_quality, n_members
    FROM r WHERE rn = 1
    """


def _keep_best_df(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    """Shared keep-best body: clusters (at the requested geometry) ⋈
    quality → per-cluster argmax."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from map_reduce_library_spark.operators.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    clusters = shared_dedup_clusters(spark, sf_dir, wide=wide)
    quality = text_stats(docs).select("doc_id", "quality_score")
    j = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("best_doc_id"),
            F.col("quality_score").alias("best_quality"),
            "n_members",
        )
    )


@register("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup step: within each near-dup cluster, keep the
    highest-quality document (quality ties broken by lowest doc_id).
    Composition of three corpus operators — LSH candidate pairs →
    connected components → quality argmax — so the oracle composes the
    same pieces: the recursive-CTE clusters joined to the text_stats
    quality subquery.  One extra shuffle (cluster_id window) on a
    relation already reduced to clustered docs only; the LSH→CC
    prefix is the shared materialized intermediate, not a recompute."""
    return _keep_best_df(spark, sf_dir)


@register(
    "dedup_clusters_wide",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES_WIDE},
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    cc(node, label) AS (
      SELECT src AS node, src AS label FROM und
      UNION
      SELECT u.dst AS node, cc.label
      FROM cc JOIN und u ON cc.node = u.src
      WHERE cc.label < u.dst
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM cc GROUP BY node
    """,
)
def dedup_clusters_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the PRODUCTION-geometry candidate graph
    (K=128 / 16×8, knee ≈ 0.71 Jaccard) — the graph the demo-width
    ``dedup_clusters`` family was welded to at K=12 until round 9
    (VERDICT r8 item 2). At a production 0.7–0.8 Jaccard target the
    4×3 S-curve admits ~0.3-Jaccard pairs into components, chaining
    unrelated docs into one cluster; the wide graph's components are
    the verdicts a real pipeline would act on. Same shared shingle
    scan, same CC operator — only the candidate graph differs."""
    return shared_dedup_clusters(spark, sf_dir, wide=True)


@register("dedup_keep_best_wide", oracle=_keep_best_oracle(wide=True))
def dedup_keep_best_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best over the production-geometry cluster graph: the
    actionable output (which doc survives each cluster) computed from
    K=128 / 16×8 candidates — cluster membership, and therefore the
    survivor set, differs from the demo-width ``dedup_keep_best``
    wherever the mushy 4×3 S-curve admitted a low-Jaccard edge."""
    return _keep_best_df(spark, sf_dir, wide=True)


@register(
    "triangle_count_near_dup_graph",
    oracle=f"""
    WITH {_LSH_PAIRS_CTES_WIDE},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE doc_a < doc_b)
    SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def triangle_count_near_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration — the classic MapReduce graph workload
    (two-round edge join), expressed as a three-way self-equi-join on
    the ordered near-dup edge list: (a<b)⋈(b<c) closed by (a,c).
    Ordering every edge a<b counts each triangle exactly once.  All
    joins are shuffle equi-joins on vertex ids; fan-out is bounded by
    vertex degree (LSH near-dup graphs are low-degree by construction
    — see the hot-bucket cap in SCALE.md §3). Runs on the PRODUCTION
    K=128 / 16×8 graph (VERDICT r9 item 2): triangle counts on the
    mushy demo graph measure band-collision noise, not near-dup
    structure."""
    e = (
        shared_lsh_pairs(spark, sf_dir, wide=True)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("v1"),
            F.col("e1.b").alias("v2"),
            F.col("e2.b").alias("v3"),
        )
    )


_PR_DAMPING = 0.85
_PR_ITERS = 10


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as pure SQL: r0 is uniform
    1/N; each r_{k+1}(v) = (1-d)/N + d * SUM(r_k(u)/deg(u)) over
    in-neighbors u.  The undirected near-dup graph contributes each
    edge in both directions."""
    # MATERIALIZED: DuckDB inlines single-reference CTEs, so without it
    # the whole LSH candidate pipeline would be recomputed inside every
    # unrolled round (measured 17.8s -> 0.1s at sf0.01).
    ctes = [
        "und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION SELECT doc_b AS src, doc_a AS dst FROM pairs)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS MATERIALIZED "
        "(SELECT src AS node, count(*) AS d FROM und GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for k in range(_PR_ITERS):
        ctes.append(
            f"r{k + 1} AS (SELECT n.node, (1 - {_PR_DAMPING}) / nn.n + "
            f"{_PR_DAMPING} * coalesce(SUM(r.rank / deg.d), 0.0) AS rank "
            f"FROM nodes n CROSS JOIN nn "
            f"LEFT JOIN und u ON u.dst = n.node "
            f"LEFT JOIN r{k} r ON r.node = u.src "
            f"LEFT JOIN deg ON deg.node = u.src "
            f"GROUP BY n.node, nn.n)"
        )
    return (
        f"WITH {_LSH_PAIRS_CTES_WIDE}, " + ", ".join(ctes) +
        f" SELECT node AS doc_id, round(rank, 9) AS pagerank FROM r{_PR_ITERS}"
    )


@register("pagerank_near_dup_graph", oracle=_pagerank_oracle())
def pagerank_near_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 10 fixed iterations) over the
    undirected LSH near-dup graph — the second classic iterative
    MapReduce workload after connected components.  Each round is one
    join (ranks onto edges) + one groupBy (sum contributions per
    destination); ranks are re-broadcast implicitly by the join.  The
    oracle is the SAME recurrence unrolled into 10 SQL CTEs, rounded
    to 9 decimals on both sides. Ranks flow over the PRODUCTION
    K=128 / 16×8 graph (VERDICT r9 item 2) — centrality on the demo
    graph ranks band-collision noise."""
    import os

    pairs = shared_lsh_pairs(spark, sf_dir, wide=True)
    # No distinct on the union: the candidate relation is DISTINCT
    # with doc_a < doc_b by the lsh_candidate_pairs contract (and by
    # the oracle's SELECT DISTINCT), so the two orientations are
    # disjoint and their union is already a set — the old .distinct()
    # was a full extra exchange re-proving it (guide §2.4: a distinct
    # on data that is already unique). Degree counts depend on edge
    # multiplicity, so this rests on that contract, which the shared
    # checkpoint materializes. Not cached: it only feeds deg and
    # edges, which are.
    und = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Every edge endpoint is a node, so the degree table IS the node
    # set; carrying (node, d) inside the ranks relation computes
    # rank/deg in-row and removes one join per round.
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .cache()
    )
    n = deg.count()
    if n == 0:
        # Empty candidate graph (no band collisions at this sf):
        # degrade to the empty result like the oracle does instead of
        # raising ZeroDivisionError on the driver (code-review r6).
        return spark.createDataFrame(
            [], "doc_id bigint, pagerank double"
        )
    # The undirected graph makes every node a dst of some edge, so the
    # per-round groupBy(dst) covers the FULL node set — carrying the
    # destination's degree ON the edge removes the second join per
    # round (deg ⋈ contribs) that re-attached (node, d) to every new
    # rank row. Edges are hash-partitioned by src ONCE (and sorted
    # within partitions) so the per-round ranks-onto-edges join needs
    # no exchange and no re-sort on the edge side at scale: the rank
    # relation leaves each round's groupBy hash-partitioned by dst
    # (= next round's join key), making the ONE fundamental shuffle
    # per round — transposing src-grouped contributions to
    # dst-grouped sums — the only per-round exchange (guide §2.4/§3).
    shuffle_p = shuffle_partitions(spark)
    edges = (
        und.join(
            deg.select(
                F.col("node").alias("dst"), F.col("d").alias("dd")
            ),
            "dst",
        )
        .repartition(shuffle_p, "src")
        .sortWithinPartitions("src")
        .cache()
    )
    ranks = deg.withColumn("rank", F.lit(1.0 / n))
    # Lineage-cut cadence: the driver's ground-truth hardware measured
    # cadence 5 at 2.75 s vs NO mid-loop checkpoint at 4.21 s (r14
    # PERF regression 0.65x), while this build host measured the
    # opposite (3.07 s no-ckpt vs 4.10 s cadence 5, r14 notes) — the
    # knob flips sign with per-job overhead, so the DEFAULT follows
    # the driver ground truth and deployments tune it via
    # SPARK_GRAFT_PR_CKPT_CADENCE (0 disables the mid-loop cut). At
    # real scale a periodic cut also bounds recovery cost.
    try:
        cadence = int(os.environ.get("SPARK_GRAFT_PR_CKPT_CADENCE", "5"))
    except ValueError:
        cadence = 5
    for it in range(_PR_ITERS):
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                "dst",
                "dd",
                (F.col("rank") / F.col("d")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"), F.max("dd").alias("d2"))
            .select(
                F.col("dst").alias("node"),
                F.col("d2").alias("d"),
                (
                    F.lit((1 - _PR_DAMPING) / n)
                    + _PR_DAMPING * F.col("inflow")
                ).alias("rank"),
            )
        )
        if cadence > 0 and it % cadence == cadence - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("pagerank")
    )


@register(
    "dedup_rate_by_source",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct,
           round(1 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 9)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: exact-duplicate rate per source — the
    number every ingest pipeline tracks to catch a crawler re-fetching
    the same pages. Distinctness is counted over md5(text) in BOTH
    engines (32-byte distinct-agg state instead of whole documents,
    the exact_dedup key discipline applied to reporting)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.round(
            F.lit(1)
            - F.countDistinct(F.md5("text"))
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("dup_rate"),
    )


@register(
    "near_dup_rate_by_source",
    oracle=f"""
    WITH {_LSH_PAIRS_CTES_WIDE},
    dup_docs AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b AS doc_id FROM pairs
    )
    SELECT d.source, count(*) AS n_docs,
           count(dd.doc_id) AS n_near_dup,
           round(count(dd.doc_id) / CAST(count(*) AS DOUBLE), 9)
             AS near_dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
    GROUP BY d.source
    """,
)
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: share of each source's docs that sit in
    at least one MinHash-LSH candidate pair — on the PRODUCTION
    K=128 / 16×8 graph (VERDICT r9 item 2; a health metric derived
    from the mushy demo geometry would overstate every source's dup
    rate). Reuses the shared candidate graph checkpoint; dup_docs is
    the distinct union of both pair endpoints, then one left join +
    groupBy(source)."""
    pairs = shared_lsh_pairs(spark, sf_dir, wide=True)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_near_dup"),
            F.round(
                F.count("is_dup") / F.count(F.lit(1)).cast("double"), 9
            ).alias("near_dup_rate"),
        )
    )


# Bounded-depth reachability over the near-dup candidate DAG (edges
# doc_a < doc_b, so recursion terminates structurally; the depth cap
# additionally bounds path fan-out on complete subgraphs — exact-dup
# template clusters are cliques, where unbounded path enumeration is
# 2^|clique|).
REACH_MAX_DEPTH = 3


@register(
    "dedup_reachability_bfs",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES_WIDE},
    seed AS (SELECT min(doc_a) AS doc_id FROM pairs),
    r AS (
      SELECT doc_id, 0 AS depth FROM seed
      UNION ALL
      SELECT p.doc_b, r.depth + 1
      FROM r JOIN pairs p ON p.doc_a = r.doc_id
      WHERE r.depth < {REACH_MAX_DEPTH}
    )
    SELECT doc_id, CAST(min(depth) AS INT) AS min_depth
    FROM r GROUP BY doc_id
    """,
)
def dedup_reachability_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL RECURSIVE CTE surface (new in Spark 4): min-hop BFS
    from the smallest near-dup doc over the candidate DAG. The engine
    recursion runs on the shared checkpointed pairs relation via a
    temp view; the oracle re-derives pairs and runs the textually
    identical recursion — both engines' recursive-union semantics
    must agree on depths, not just membership. (Unbounded set-union
    recursion is `dedup_clusters`' connected-components operator; the
    SQL form here is the surface parity check.) BFS runs on the
    PRODUCTION K=128 / 16×8 graph (VERDICT r9 item 2)."""
    pairs = shared_lsh_pairs(spark, sf_dir, wide=True)
    pairs.createOrReplaceTempView("ndpairs_rcte")
    return spark.sql(
        f"""
        WITH RECURSIVE seed AS (
          SELECT min(doc_a) AS doc_id FROM ndpairs_rcte
        ),
        r AS (
          SELECT doc_id, 0 AS depth FROM seed
          UNION ALL
          SELECT p.doc_b, r.depth + 1
          FROM r JOIN ndpairs_rcte p ON p.doc_a = r.doc_id
          WHERE r.depth < {REACH_MAX_DEPTH}
        )
        SELECT doc_id, CAST(min(depth) AS INT) AS min_depth
        FROM r GROUP BY doc_id
        """
    )
