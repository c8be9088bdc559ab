"""Persisted DSIR raw-pool model: the INCREMENTAL face of importance
resampling.

``sampling.dsir_scores`` is the one-shot form — it refits the raw
bag-of-hashed-ngrams model from the whole pool every call. A
production ingest never has the pool in one frame: batches arrive
forever, and each batch's gram mass must join the raw model q WITHOUT
re-featurizing history. Bucket counts are purely ADDITIVE, so the
model folds exactly: this store keeps one (bucket, cnt) row per
(fold, bucket) — at most ``n_buckets`` tiny rows per batch — through
the shared fold harness (etl/fold.fold_append: claim → bootstrap-OCC
→ pinned-read → replay filter → commit_append), and reading the model
is one sum over a broadcast-class table (≤ n_buckets × folds rows;
``TableStore.compact`` squashes a long fold history whenever wanted —
the counts re-aggregate identically either way).

SEQUENTIAL ≡ ONE-SHOT law (exact, no approximation — addition
commutes): folding batches B1..Bn then scoring any docs against the
store model equals one-shot ``dsir_scores`` with the concatenated
pool as ``raw``. The gate row's oracle IS the one-shot SQL (the
bm25i_incremental_index convention: one oracle serves both faces,
which is the incremental ≡ full-refit proof). The replay/ordering
contract is STRICTER than the row-addressed span store's, because
counts are anonymous once summed — there is no per-doc anti-join to
separate a replay from out-of-order new mass. Every fold records the
batch's [lo, hi] doc_id span (over its GRAM-HOLDING docs — sub-gram
docs contribute no counts and are invisible to the model); a
genuinely-new batch must postdate the stored max
(``on_overlap='raise'``), and ``'skip_existing'`` absorbs EXACT
redelivery only: a batch whose span matches a recorded fold's and
whose bucket vector equals that fold's row-for-row is a no-op (the
checkpointed-stream redelivery case — micro-batch composition is
stable across retries, so a redelivered batch is byte-identical);
any OTHER overlap raises loudly instead of silently dropping or
double-counting mass (a watermark-only filter would silently LOSE
every genuinely-new doc a non-id-ordered source delivers late).
``n_buckets`` is a store property validated on every fold and read —
probing a 128-bucket model with 10k-bucket features would silently
mis-bin every gram.

ref tiny_api_v2_cliente.py:79-134 (the reference's incremental
per-page ingest loop) is the lineage; the estimator follows Xie et
al. 2023 (DSIR), integer-bits variant per operators/sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from tinyerp_etl_spark.etl.fold import fold_append, occ_fold
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.functions.materialize import materialize
from tinyerp_etl_spark.operators.sampling import (
    DSIR_BUCKETS,
    dsir_gram_buckets,
    dsir_llr_scores,
)

#: Files per fold commit (rows per fold ≤ n_buckets — one file is
#: plenty; the constant exists for symmetry with the sibling stores).
DSIR_MODEL_FILES = 1

DSIR_MODEL_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("cnt", LongType()),
        # store properties, constant per store / per fold (RLE):
        # validated so mismatched probes fail loudly
        StructField("n_buckets", LongType()),
        # the fold's gram-holding doc_id span — the replay/ordering
        # contract's watermark
        StructField("lo_doc_id", LongType()),
        StructField("hi_doc_id", LongType()),
    ]
)


class DsirOverlapError(ValueError):
    """A fold batch overlaps the stored watermark without being an
    exact redelivery. Subclasses ValueError (the historical contract)
    but lets callers that retry through the skip_existing path after a
    lost init race catch ONLY this plus ConcurrentWriteError — a
    non-race contract error (e.g. an n_buckets mismatch, also a
    ValueError) must surface directly, not via a confusing second
    failure from a pointless retry."""


def dsir_model_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, DSIR_MODEL_SCHEMA)


def _stored_buckets(stored: DataFrame) -> int | None:
    row = stored.select("n_buckets").first()
    return None if row is None else int(row["n_buckets"])


def _check_buckets(
    stored_b: int | None, n_buckets: int, path: str, what: str
) -> None:
    if stored_b is not None and stored_b != n_buckets:
        raise ValueError(
            f"DSIR model at {path} was built with n_buckets={stored_b}; "
            f"{what} with n_buckets={n_buckets} would bin grams "
            "differently and silently corrupt every score — build a "
            "separate store per feature space"
        )


def build_dsir_model_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """One fold's model rows: per-bucket gram counts of the batch plus
    the batch's gram-holding doc_id span (empty frame for an all-sub-
    gram batch — it adds no mass and no watermark).

    The featurization (tokenize + explode + md5 bucket hash) is the
    fold's expensive pass and feeds BOTH the counts aggregation and
    the span probe — pin it once (the dsir_scores/dsir_select
    convention) so each fold tokenizes and hashes the batch exactly
    once; the pinned frame is per-doc bucket counts, already far
    smaller than the gram explosion it truncates."""
    feats = materialize(dsir_gram_buckets(docs, text_col, id_col, n_buckets))
    counts = feats.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    span = feats.agg(
        F.min(id_col).cast("long").alias("lo_doc_id"),
        F.max(id_col).cast("long").alias("hi_doc_id"),
    )
    return (
        counts.crossJoin(F.broadcast(span))
        .filter(F.col("lo_doc_id").isNotNull())
        .select(
            "bucket",
            "cnt",
            F.lit(int(n_buckets)).cast("long").alias("n_buckets"),
            "lo_doc_id",
            "hi_doc_id",
        )
    )


def update_dsir_model(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_overlap: str = "raise",
    n_buckets: int = DSIR_BUCKETS,
) -> int:
    """Fold a batch's gram mass into the persisted raw model.

    Only the batch featurizes and only ≤ ``n_buckets`` rows are
    written (``commit_append`` — fold compute and IO ∝ batch).
    ``'raise'`` treats ANY batch that does not postdate the stored
    watermark as a caller bug; ``'skip_existing'`` additionally
    absorbs an EXACT redelivery (same gram-holding doc_id span, same
    bucket vector as a recorded fold — the comparison is ≤ n_buckets
    rows, control-plane) as a version-preserving no-op, so
    at-least-once delivery of checkpointed micro-batches folds to an
    exactly-once model. A batch that overlaps history WITHOUT being
    an exact redelivery raises in BOTH modes: counts are anonymous
    once summed, so the store cannot separate out-of-order new mass
    from a partial replay — silently dropping it would lose data,
    silently folding it could double-count. Raises ConcurrentWrite-
    Error on a lost OCC race (retry at the call site — the streaming
    sink wraps this in ``occ_fold``)."""
    if on_overlap not in ("raise", "skip_existing"):
        raise ValueError(
            f"on_overlap must be 'raise' or 'skip_existing', got {on_overlap!r}"
        )
    rows = materialize(
        build_dsir_model_rows(new_docs, text_col, id_col, n_buckets)
    )

    def fresh_rows(stored: DataFrame, batch: DataFrame) -> DataFrame:
        _check_buckets(_stored_buckets(stored), n_buckets, path, "folding")
        probe = batch.agg(
            F.min("lo_doc_id").alias("lo"),
            F.max("hi_doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if not int(probe["n"]):
            return batch  # all-sub-gram batch: version-preserving no-op
        hi_row = stored.agg(F.max("hi_doc_id").alias("hi")).first()
        hi = hi_row["hi"]
        if hi is None or int(probe["lo"]) > int(hi):
            return batch
        lo_b, hi_b = int(probe["lo"]), int(probe["hi"])
        if on_overlap == "skip_existing":
            # absorb an EXACT redelivery: the recorded fold with this
            # span must hold the identical bucket vector (≤ n_buckets
            # rows per side — a control-plane comparison)
            prior = stored.filter(
                (F.col("lo_doc_id") == lo_b) & (F.col("hi_doc_id") == hi_b)
            ).select("bucket", "cnt")
            mine = batch.select("bucket", "cnt")
            diff = mine.exceptAll(prior).unionAll(prior.exceptAll(mine))
            if not prior.limit(1).isEmpty() and diff.limit(1).isEmpty():
                return batch.limit(0)  # no-op: version preserved
        raise DsirOverlapError(
            f"DSIR model at {path}: batch span [{lo_b}, {hi_b}] overlaps "
            f"the folded history (max doc_id {int(hi)}) and is not an "
            "exact redelivery of a recorded fold — counts are anonymous "
            "once summed, so the store cannot separate out-of-order new "
            "mass from a partial replay (dropping would silently LOSE "
            "data, folding could double-count); re-id the late arrival "
            "or rebuild over the full corpus"
        )

    return fold_append(
        dsir_model_store(spark, path),
        rows,
        fresh_rows,
        n_files=DSIR_MODEL_FILES,
        skip_empty_bootstrap_result=0,
    )


def read_dsir_model(
    spark: SparkSession, path: str, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """The folded raw model as (bucket, cnt) — one sum over the
    broadcast-class store; validates the feature space."""
    stored = dsir_model_store(spark, path).read()
    _check_buckets(_stored_buckets(stored), n_buckets, path, "reading")
    return stored.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def dsir_scores_against_store(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Score a batch under the PERSISTED raw model (q = the folded
    history; p = the target sample, refit per call — target samples
    are small by construction). Featurizes batch + target only; the
    historical pool contributes through ≤ n_buckets summed rows.
    Identical to one-shot ``dsir_scores`` with the folded corpus as
    ``raw`` whenever the batch's docs are exactly the folded pool
    (the sequential ≡ one-shot law; the gate row's oracle) — and the
    PRODUCTION shape (score an unseen batch against history) is the
    same call with the batch not yet folded."""
    # NOT pinned: unlike the one-shot path (where the raw features
    # feed both the model and the join), fb here feeds ONLY the
    # scoring join — q comes from the store — so a materialize would
    # be a pure extra compute+write+read pass of the largest frame
    fb = dsir_gram_buckets(batch, text_col, id_col, n_buckets)
    q = read_dsir_model(spark, path, n_buckets)
    # target feeds only the bucket model — id-agnostic (constant id),
    # mirroring sampling.dsir_scores
    p = dsir_gram_buckets(
        target.select(F.lit(0).cast("long").alias(id_col), F.col(text_col)),
        text_col,
        id_col,
        n_buckets,
    )
    return dsir_llr_scores(fb, q, p, id_col, n_buckets)


def run_stream_to_dsir_model(
    spark: SparkSession,
    docs_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    occ_retries: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> None:
    """Maintain the raw model from a document stream (availableNow) —
    the model-at-ingest face: each micro-batch folds its gram mass via
    ``update_dsir_model``, so ``dsir_scores_against_store`` always
    scores under a model current to the last drained batch. Same
    replay and concurrency contract as every streaming fold:
    ``skip_existing`` absorbs at-least-once redelivery (the watermark
    drops the replayed prefix), and ConcurrentWriteError retries
    through the shared harness (etl/fold.occ_fold — safe, the
    watermark filter re-derives the fresh suffix against the
    winner)."""
    from tinyerp_etl_spark.etl.fold import drain_available_now

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        occ_fold(
            lambda: update_dsir_model(
                spark,
                path,
                batch_df,
                text_col,
                id_col,
                on_overlap="skip_existing",
                n_buckets=n_buckets,
            ),
            occ_retries,
        )

    drain_available_now(docs_stream, sink, checkpoint_dir)
