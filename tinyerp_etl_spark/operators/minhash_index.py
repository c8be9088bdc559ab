"""Persisted MinHash feature index: shingle + sign ONCE at ingest,
near-dup new batches against the store without re-featurizing it.

The fused query-time pipeline (dedup.lsh_neardup_verified) computes
the (shingles, signature, band keys) feature table per execution —
fine for a one-off corpus sweep, wrong as the steady state: at 100 TB
an ingest pipeline asks "which ALREADY-INGESTED docs does this batch
near-duplicate?" per batch, and featurizing the corpus per batch is
the dominant cost (the same argument that moved BM25 tokenization and
the IVF/PQ training into persisted artifacts — this module completes
that discipline for the near-dup family, its last query-time-built
member).

ONE TableStore artifact holds (doc_id, sh, sig, band_keys) — a row
per indexable document, featurized exactly once ever. Near-dup needs
no corpus-global statistics (unlike BM25's idf), so there is no
second stats table and therefore NO two-commit crash window to
defend: the fold is a plain append-only commit_append under
optimistic concurrency, with doc_id-overlap replay detection.

The batch-vs-store query keeps the store SHUFFLE-FREE:

- a NARROW store pass reads only ``band_keys`` (a sliver of the
  bytes; the shingle arrays are the heavy column),
  broadcast-semi-joined to the batch's key set, to count global
  store membership per matched (band, key) and drop flooded keys —
  cap semantics identical to dedup._capped_bucket_pairs without a
  corpus groupBy and without any per-key buffer;
- the WIDE store pass reads (doc_id, sh, band_keys), explodes the
  band keys in the projection (B small strings per doc — no
  shuffle), and is probed by a broadcast hash join on the batch's
  surviving exploded keys — store bytes never cross the network;
- exact Jaccard verification reads the shingle arrays already carried
  through the join (pair-scale rows only).

The reference has no dedup surface (ref tiny_api_v2_cliente.py is a
REST-to-PostgreSQL loader); this extends the engine's LLM-pipeline
family per SURVEY §2's beyond-reference mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tinyerp_etl_spark.etl.fold import fold_append
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.functions.materialize import materialize
from tinyerp_etl_spark.operators.dedup import (
    DEFAULT_BUCKET_CAP,
    minhash_features_pandas,
    shingle_jaccard,
)

#: Files per featurize commit — small-files control, like the BM25
#: postings' POSTINGS_FILES; a cluster sizes this to bytes/target.
FEATURE_FILES = 8

MINHASH_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sh", ArrayType(StringType())),
        StructField("sig", ArrayType(LongType())),
        StructField("band_keys", ArrayType(StringType())),
    ]
)


def minhash_feature_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, MINHASH_FEATURES_SCHEMA)


def build_minhash_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sh, sig, band_keys) — one Arrow-batched pass
    (dedup.minhash_features_pandas, bit-identical to the expression
    twins). Documents with fewer than SHINGLE_K tokens have no
    shingles and are NOT indexable — they drop here, exactly as the
    fused pipeline's ``len(sh) > 0`` filter drops them; by the
    shingle definition they can never near-duplicate anything."""
    return minhash_features_pandas(docs, text_col, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("__sh").alias("sh"),
        "sig",
        "band_keys",
    )


def save_minhash_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Featurize the corpus and persist it as the first/next version."""
    feats = build_minhash_features(docs, text_col, id_col)
    return minhash_feature_store(spark, path).commit(
        feats, n_files=FEATURE_FILES
    )


def update_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_overlap: str = "raise",
) -> int:
    """Fold a batch of NEW documents into the persisted feature table.

    Only the batch featurizes AND only the batch's files are written
    (TableStore.commit_append) — fold compute and IO are both ∝
    increment. Features are per-document facts, so fold ≡ rebuild
    holds trivially row-for-row (pinned by test regardless).

    ``on_overlap`` is the replay contract of the BM25 fold:
    ``"raise"`` treats an already-indexed doc_id as a caller bug;
    ``"skip_existing"`` folds only the genuinely-new docs so an
    at-least-once redelivery folds to an exactly-once index (a fully
    replayed batch is a version-preserving no-op). The overlap probe
    is a column-pruned doc_id read of the store, PINNED to the claimed
    version by the shared harness (etl/fold.fold_append — the claim →
    pinned-read → fresh-filter → commit_append skeleton lives there;
    only the anti-join/raise semantics live here). Both the probe and
    the commit ride ``expected_version``: a concurrent fold raises
    ConcurrentWriteError for the caller (or the streaming face's
    retry loop) to recompute against the winner.

    A batch whose documents are ALL too short to shingle contributes
    nothing and leaves the store untouched — matching the build-path
    semantics (such docs are never indexable); on a still-absent store
    that no-op returns 0 (the "empty" version number) without creating
    a spurious empty artifact.

    The FIRST fold is the same append, against version 0, the empty
    store: two writers racing to create the same index raise
    ConcurrentWriteError for the loser instead of the second v1
    silently shadowing the first writer's rows, so the streaming
    face's retry loop covers the very first micro-batch too.
    """
    if on_overlap not in ("raise", "skip_existing"):
        raise ValueError(
            f"on_overlap must be 'raise' or 'skip_existing', got {on_overlap!r}"
        )
    feats = materialize(build_minhash_features(new_docs, text_col, id_col))

    def fresh_rows(stored: DataFrame, batch: DataFrame) -> DataFrame:
        indexed = stored.select("doc_id")
        if on_overlap == "raise":
            n = batch.select("doc_id").join(indexed, "doc_id", "left_semi").count()
            if n:
                raise ValueError(
                    f"minhash index at {path}: {n} batch doc_ids are already "
                    "indexed — the fold is append-only; replay with "
                    "on_overlap='skip_existing' if this is an at-least-once "
                    "redelivery"
                )
            return batch
        return batch.join(indexed, "doc_id", "left_anti")

    return fold_append(
        minhash_feature_store(spark, path),
        feats,
        fresh_rows,
        n_files=FEATURE_FILES,
    )


def neardup_against_store(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(store_doc, batch_doc, jaccard) — verified near-dup pairs of an
    incoming batch against the persisted store, store-shuffle-free.

    The batch featurizes once (Arrow pass, materialized). The store
    version is pinned ONCE up front (``read_version``) and both passes
    read that same immutable snapshot — a concurrent fold landing
    between the passes cannot make the cap count and the candidate
    join see different corpora (the concurrency the streaming fold
    explicitly supports). The pinned version is read in TWO
    column-pruned passes, neither of which shuffles it:

    1. a NARROW pass reads only ``band_keys`` (B hashes per doc — a
       sliver of the bytes; ``sh`` is the heavy column), broadcast-
       semi-joined to the batch's key set, to count global store
       membership per matched key WITHOUT ever holding a per-key
       buffer (the groupBy count is flood-safe where a window
       collect_set on the wide join would re-create the executor-OOM
       shape the cap exists to prevent);
    2. the WIDE pass reads (doc_id, sh, band_keys), explodes the band
       keys in the projection, and broadcast-hash-joins the batch's
       surviving (band, key) rows — candidate (store_doc, batch_doc)
       pairs verify with exact shingle Jaccard from the arrays
       already in hand (``dedup.shingle_jaccard``).

    ``bucket_cap`` bounds TOTAL bucket membership per (band, key) —
    store count plus batch count — the same contract as
    ``dedup._capped_bucket_pairs``, so a flooded key on EITHER side
    (a hot store key, or a batch whose docs all share a band) drops
    the key instead of blowing up the candidate join as
    store_matches × batch_matches. Cross pairs only: within-batch and
    within-store duplication are the existing operators' jobs.
    """
    store = minhash_feature_store(spark, path)
    stored = store.read()
    bf = materialize(build_minhash_features(batch, text_col, id_col))
    bb = bf.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("sh").alias("sh_b"),
        F.posexplode("band_keys").alias("band", "key"),
    )
    batch_counts = bb.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("__qn")
    )
    narrow = stored.select(F.posexplode("band_keys").alias("band", "key"))
    ok_keys = (
        narrow.join(
            F.broadcast(batch_counts.select("band", "key")),
            ["band", "key"],
            "left_semi",
        )
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .join(F.broadcast(batch_counts), ["band", "key"])
        .filter(F.col("__bn") + F.col("__qn") <= F.lit(int(bucket_cap)))
        .select("band", "key")
    )
    bb_ok = bb.join(F.broadcast(ok_keys), ["band", "key"], "left_semi")
    sb = stored.select(
        F.col("doc_id").alias("store_doc"),
        F.col("sh").alias("sh_s"),
        F.posexplode("band_keys").alias("band", "key"),
    )
    pairs = (
        sb.join(F.broadcast(bb_ok), ["band", "key"])
        .select("store_doc", "batch_doc", "sh_s", "sh_b")
        .dropDuplicates(["store_doc", "batch_doc"])
    )
    return pairs.select(
        "store_doc",
        "batch_doc",
        shingle_jaccard("sh_s", "sh_b").alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(float(threshold)))
