"""Persisted Bloom bitmap: build once from the reference set, load at
ingest/query, fold new reference batches in with bit_or.

The decontamination story end-to-end: `bloom_build` (operators/
sketch.py) folds the eval/benchmark set into a fixed-size bitmap;
this module persists that bitmap as a versioned TableStore artifact
(≤ m_bits/64 rows — control-plane size, same contract as the IVF
centroid table in operators/ivf_index.py) so every ingest job loads
it instead of rescanning the reference corpus. `update_bloom_bitmap`
is the maintenance half: new reference keys fold in with bit_or —
idempotent and commutative, so an at-least-once replay is detected as
a no-change fold and skipped WITHOUT a version bump (the
version-preserving-no-op contract the BM25 postings fold also
carries). The m/k hyperparameters ride denormalized on every row; a
load with mismatched parameters returns None rather than silently
probing against a bitmap built with a different hash family.

The reference has no membership-sketch path (it is a REST→PostgreSQL
ETL, ref tiny_api_v2_cliente.py); this is the Spark-first
"build at ingest, broadcast at probe" design the 100 TB
decontamination story needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.functions.localdf import local_df
from tinyerp_etl_spark.operators.sketch import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_build,
    bloom_merge,
)

BLOOM_INDEX_SCHEMA = StructType(
    [
        StructField("word_idx", LongType()),
        StructField("mask", LongType()),
        StructField("m_bits", IntegerType()),
        StructField("k_hashes", IntegerType()),
    ]
)


def bitmap_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, BLOOM_INDEX_SCHEMA)


def save_bloom_bitmap(
    spark: SparkSession,
    path: str,
    bitmap: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    expected_version: int | None = None,
) -> int:
    """Persist a (word_idx, mask) bitmap as the next TableStore
    version, hyperparameters denormalized onto every row.
    ``expected_version`` passes through to the commit."""
    rows = bitmap.select(
        F.col("word_idx").cast("long"),
        F.col("mask").cast("long"),
        F.lit(int(m_bits)).cast("int").alias("m_bits"),
        F.lit(int(k)).cast("int").alias("k_hashes"),
    )
    return bitmap_store(spark, path).commit(
        rows, n_files=1, expected_version=expected_version
    )


def _bitmap_rows(spark: SparkSession, path: str, version: int):
    """Collected rows of the pinned bitmap version."""
    return bitmap_store(spark, path).read_version(version).collect()


def load_bloom_bitmap(
    spark: SparkSession,
    path: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame | None:
    """The current bitmap version as (word_idx, mask), or None when
    absent or built with different m/k (a probe against a mismatched
    hash family would return garbage, never an error — fail loud)."""
    store = bitmap_store(spark, path)
    rows = _bitmap_rows(spark, path, store.current_version())
    if not rows:
        return None
    if any((r["m_bits"], r["k_hashes"]) != (m_bits, k) for r in rows):
        return None
    return local_df(
        spark,
        [(r["word_idx"], r["mask"]) for r in rows],
        "word_idx long, mask long",
    )


def update_bloom_bitmap(
    spark: SparkSession,
    path: str,
    new_keys: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> int | None:
    """Fold a batch of new reference keys into the stored bitmap.

    Work ∝ batch keys + bitmap size (a constant), never the history.
    When the fold sets no new bit — an exact replay, or keys whose
    bits were already covered — the commit is SKIPPED and the read
    version returned unchanged (bit_or idempotence makes the no-op
    detectable by comparing ≤ m/64 masks, a control-plane check).

    Concurrency and safety: the version is captured BEFORE the read
    and pinned on the commit (``expected_version``), so two
    concurrent folders raise ConcurrentWriteError instead of
    last-writer-wins dropping bits — a Bloom filter must never grow a
    false negative. A store whose rows carry DIFFERENT m/k raises —
    folding a fresh bitmap over a mismatched family would silently
    discard every historical reference key.
    """
    store = bitmap_store(spark, path)
    read_version = store.current_version()
    rows = _bitmap_rows(spark, path, read_version)
    if rows and any(
        (r["m_bits"], r["k_hashes"]) != (m_bits, k) for r in rows
    ):
        raise ValueError(
            f"bloom bitmap at {path} was built with different m/k "
            f"than the fold ({rows[0]['m_bits']}/{rows[0]['k_hashes']} "
            f"vs {m_bits}/{k}); rebuild instead of folding"
        )
    batch = bloom_build(new_keys, key_col, k=k, m_bits=m_bits)
    if not rows:
        return save_bloom_bitmap(
            spark,
            path,
            batch,
            m_bits=m_bits,
            k=k,
            expected_version=read_version,
        )
    stored = local_df(
        spark,
        [(r["word_idx"], r["mask"]) for r in rows],
        "word_idx long, mask long",
    )
    merged = bloom_merge(stored, batch)
    changed = (
        merged.alias("m")
        .join(stored.alias("s"), "word_idx", "left")
        .filter(
            F.col("s.mask").isNull() | (F.col("m.mask") != F.col("s.mask"))
        )
        .limit(1)
        .count()
    )
    if not changed:
        return read_version
    return save_bloom_bitmap(
        spark,
        path,
        merged,
        m_bits=m_bits,
        k=k,
        expected_version=read_version,
    )


def run_stream_to_bloom_bitmap(
    spark: SparkSession,
    keys_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    occ_retries: int = 3,
) -> None:
    """Fold a stream of reference keys into the persisted bitmap —
    decontamination-set maintenance at ingest.

    Each micro-batch folds through ``update_bloom_bitmap``: bit_or
    idempotence absorbs at-least-once redelivery (a fully-replayed
    batch is a version-preserving no-op), so the sink needs no
    transactional bookkeeping beyond the store's own versioning.
    Folds retry under optimistic concurrency like the BM25 sibling
    (run_stream_to_bm25_index): a concurrent writer advancing the
    bitmap between this fold's read and commit raises
    ConcurrentWriteError inside update_bloom_bitmap, and the fold is
    recomputed against the new version — safe, because bit_or is
    idempotent and commutative, so re-folding the batch over the
    winner's bitmap is exactly the merged result. availableNow drains
    the backlog and stops (the test/backfill trigger; a production
    stream would run continuous).
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        occ_fold(
            lambda: update_bloom_bitmap(
                spark, path, batch_df, key_col=key_col, m_bits=m_bits, k=k
            ),
            occ_retries,
        )

    drain_available_now(keys_stream, fold, checkpoint_dir)
