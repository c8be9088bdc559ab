"""Persisted paragraph first-occurrence index: build at ingest, fold
batches in, dedup against all history without re-tokenizing it.

The storage half of paragraph-level dedup (operators/dedup.py:
paragraph_dedup_summary is the one-shot corpus pass; this is what a
continuously-ingesting pipeline runs instead). The index is one row
per distinct paragraph ever seen — (para, first_doc, first_pos) —
committed clustered by the paragraph key so the fold's anti-join
against the store prunes effectively. `update_paragraph_index`
(operators/dedup.py) supplies the fold semantics, including the
order-violation guard; this module adds the versioned persistence,
the version-preserving no-op on replays (a fold that appends zero
rows must not burn a version — the same contract as the BM25 and
Bloom folds), OCC via expected_version on the commit, and the
foreachBatch streaming face.

Unlike the IVF/Bloom artifacts this table is DATA-scale (∝ distinct
paragraphs), so at 100 TB each version would be partition-appended
rather than rewritten; the TableStore rewrite here keeps the
versioning semantics testable at test scale, and the fold math —
only the batch tokenizes — is the part that carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.operators.dedup import (
    build_paragraph_index,
    update_paragraph_index,
)

#: Threshold-gated compaction (same lever as the span/BM25 stores —
#: see span_index.SPAN_COMPACT_MAX_FILES): appends keep cluster_by=
#: ["para"] only per-file, so the first-occurrence probe's row-group
#: skipping degrades as folds accumulate; past the threshold the fold
#: pays one O(table) rewrite restoring the global para tiling; the
#: strictly-greater threshold trips on the 7th fold after a
#: compaction (six 4-file appends reach exactly 32; the 7th passes).
PARA_COMPACT_MAX_FILES = 32
PARA_COMPACT_FILES = 8

#: Post-compaction retention (same rationale as
#: span_index.SPAN_VACUUM_RETAIN): appends hard-link, compactions
#: materialize a full copy — retention reaps versions beyond the
#: newest 3 only after a compaction ran. The paragraph index is a
#: rebuildable derived artifact; 3 (not 2) because a compacting fold
#: commits two versions past the pre-fold current, and THAT version
#: is the one a concurrent reader or racing fold has claimed — it
#: must survive the fold that compacts (it costs ~nothing: the
#: append hard-links its files). ``vacuum_retain=None`` keeps every
#: version.
PARA_VACUUM_RETAIN = 3

PARA_INDEX_SCHEMA = StructType(
    [
        StructField("para", StringType()),
        StructField("first_doc", LongType()),
        StructField("first_pos", IntegerType()),
    ]
)


def para_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, PARA_INDEX_SCHEMA)


def save_paragraph_index(
    spark: SparkSession, path: str, index: DataFrame
) -> int:
    return para_store(spark, path).commit(
        index.select("para", "first_doc", "first_pos"),
        n_files=4,
        cluster_by=["para"],
    )


def load_paragraph_index(spark: SparkSession, path: str) -> DataFrame | None:
    store = para_store(spark, path)
    if not store.exists():
        return None
    return store.read()


def fold_batch_into_paragraph_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vacuum_retain: int | None = PARA_VACUUM_RETAIN,
) -> int | None:
    """Fold one document batch into the persisted index.

    Only the batch tokenizes; a fold that appends zero rows (exact
    replay, or every batch paragraph already indexed) preserves the
    read version. The version is captured BEFORE the read and the
    read pins that exact version (read_version), then the commit
    carries it as expected_version — so a concurrent folder that
    lands in between raises ConcurrentWriteError instead of this
    writer silently omitting its paragraphs; the first fold commits
    against version 0, the empty store (first writer wins), and a
    first batch with no paragraphs creates no version. The no-op
    probe is a limit(1) count on the batch-vs-store anti-join —
    O(batch + one column-pruned join), never a count of the
    data-scale store.

    The batch tokenizes ONCE: its first-occurrence frame is
    materialized (functions/materialize seam) and shared by the
    order-violation probe, the no-op probe, and the committed append.

    The commit is INCREMENTAL (TableStore.commit_append): the new
    version hard-links the previous version's immutable files and
    writes only the fresh paragraphs' files — fold IO ∝ batch, which
    is what the module docstring's 100 TB note demands (previously the
    whole index was re-shuffled and re-written per fold). First-
    occurrence rows are immutable by the order guard, so append-only
    is sound; per-version file count grows until the threshold-gated
    compaction below rewrites one globally-clustered layout.
    """
    from tinyerp_etl_spark.etl.fold import fold_append
    from tinyerp_etl_spark.functions.materialize import materialize
    from tinyerp_etl_spark.operators.dedup import paragraph_fresh_rows

    batch_firsts = materialize(
        build_paragraph_index(batch, text_col, id_col).select(
            "para", "first_doc", "first_pos"
        )
    )
    return fold_append(
        para_store(spark, path),
        batch_firsts,
        lambda stored, firsts: paragraph_fresh_rows(stored, firsts).select(
            "para", "first_doc", "first_pos"
        ),
        n_files=4,
        cluster_by=["para"],
        compact_max_files=PARA_COMPACT_MAX_FILES,
        compact_n_files=PARA_COMPACT_FILES,
        vacuum_retain=vacuum_retain,
    )


def run_stream_to_paragraph_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Maintain the paragraph index from a document stream.

    Each micro-batch folds through `fold_batch_into_paragraph_index`;
    a fully-replayed batch appends nothing and preserves the version,
    so at-least-once delivery needs no extra bookkeeping. Folds retry
    under optimistic concurrency like every streaming fold
    (etl/fold.occ_fold — previously this was the one streaming face
    WITHOUT the retry, so a racing fold surfaced as a stream failure
    instead of a recompute; safe because paragraph_fresh_rows
    re-derives what is new against the winner). availableNow drains
    the backlog and stops (test/backfill trigger).
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        occ_fold(
            lambda: fold_batch_into_paragraph_index(
                spark, path, batch_df, text_col=text_col, id_col=id_col
            )
        )

    drain_available_now(docs_stream, fold, checkpoint_dir)
