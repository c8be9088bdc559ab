"""Streaming mirror of the reference's incremental machinery.

The reference hand-builds watermarks + bounded increments + page
checkpoints + at-least-once delivery with an idempotent sink
(SURVEY.md §2.5, ops #21-28). Structured Streaming provides each of
those natively; this module is the 1:1 mapping:

| reference (file:line)                      | streaming construct        |
|--------------------------------------------|----------------------------|
| watermark read/commit (:107-129)           | checkpointLocation offsets |
| 60-day safety window (:160-170)            | withWatermark(allowed lateness) |
| page cap / bounded step (:50, :345)        | maxFilesPerTrigger / availableNow |
| per-page commit + resume (:183-223)        | micro-batch offset log     |
| at-least-once + idempotent upsert (#14,#22)| foreachBatch + MERGE sink  |

Tests run file-source streams over the driver's events table with
``Trigger.AvailableNow`` — the exact semantics of the reference's
"drain what's there, then stop" cron step.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinyerp_etl_spark.etl.merge import merge_upsert
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.sources.catalog import read_events


def read_events_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events (ts normalized to TimestampType,
    with the batch read's schema and parquet-footer sniff).

    ``maxFilesPerTrigger`` is the reference's page cap (#27): bound
    how much one micro-batch ingests.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return read_events(reader, dir_path)


def tumbling_counts(events: DataFrame, window_len: str = "1 hour", lateness: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate (streaming or batch DF).

    The watermark is the streaming analog of the reference's 60-day
    allowed-lateness re-scan window (#23): late rows inside the bound
    still update their window; older ones are dropped (vs re-scanned).
    """
    src = events.withWatermark("ts", lateness) if events.isStreaming else events
    value_cents = F.round(F.col("value") * 100).cast("long")
    return (
        src.groupBy(F.window("ts", window_len).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(value_cents) / 100.0).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_merge_sink(
    spark: SparkSession,
    stream_df: DataFrame,
    store: TableStore,
    keys: list[str],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Drain a stream into a TableStore via per-batch MERGE (availableNow).

    foreachBatch + idempotent MERGE = the reference's at-least-once
    delivery with ON CONFLICT upsert (#14 + #22): batch replays after
    a crash are absorbed by the key-merge.

    Each batch commits under optimistic concurrency: the MERGE is
    computed against the version it read, and if a concurrent writer
    (a backfill, a compaction job) advanced the table in between, the
    commit raises instead of silently overwriting that writer's rows —
    the sink then re-reads and re-merges (the MERGE is idempotent, so
    the retry is safe), within ``occ_fold``'s retry budget.
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        df = transform(batch_df) if transform is not None else batch_df

        def fold() -> None:
            base = store.current_version()
            merged = merge_upsert(store.read_version(base), df, keys)
            store.commit(merged, expected_version=base)

        occ_fold(fold)

    drain_available_now(stream_df, sink, checkpoint_dir)


def run_stream_to_bm25_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain a document stream into the persisted BM25 postings index
    (availableNow) — continuous index-at-ingest: each micro-batch
    tokenizes ONLY itself and folds in via
    operators/bm25_index.update_bm25_index, so queries always score
    from an index that is current to the last drained batch and the
    tokenizer never runs at query time.

    Idempotence under at-least-once delivery: a replayed batch (crash
    between the fold and the checkpoint commit, a re-delivered file)
    is absorbed by ``on_overlap="skip_existing"`` — already-indexed
    doc_ids are anti-joined away and a fully-replayed batch is a
    no-op, the same replay contract the MERGE sink gives row upserts.
    A crash INSIDE the fold's two-commit window (postings landed,
    stats did not) also heals on replay: update_bm25_index detects
    the postings/stats divergence, identifies the lost docs by
    time-travel diff, verifies the replayed text re-tokenizes to the
    crashed fold's exact postings rows, and repairs the stats before
    resuming — so the stream recovers from any single crash point
    without operator intervention.
    Folds retry under optimistic concurrency like the merge sink: a
    concurrent writer (a rebuild, another folder) advancing the index
    between read and commit raises ConcurrentWriteError inside
    update_bm25_index, and the fold is recomputed against the new
    version (safe — the skip-existing filter re-derives what is new).
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold
    from tinyerp_etl_spark.operators.bm25_index import update_bm25_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        occ_fold(
            lambda: update_bm25_index(
                spark, index_path, batch_df, on_overlap="skip_existing"
            )
        )

    drain_available_now(docs_stream, sink, checkpoint_dir)


def run_stream_to_minhash_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain a document stream into the persisted MinHash feature
    index (availableNow) — near-dup-at-ingest: each micro-batch
    featurizes ONLY itself and folds in via
    operators/minhash_index.update_minhash_index, so
    ``neardup_against_store`` always probes features current to the
    last drained batch and the shingle/signature pass never runs over
    the corpus at query time.

    Same replay and concurrency contract as the BM25/Bloom siblings:
    ``on_overlap="skip_existing"`` absorbs at-least-once redelivery
    (already-indexed doc_ids anti-join away; a fully replayed batch
    is a version-preserving no-op), and ConcurrentWriteError from a
    racing fold is retried against the winner — safe because the
    skip-existing filter re-derives what is new. The single-artifact
    design means there is no multi-commit crash window to heal.
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold
    from tinyerp_etl_spark.operators.minhash_index import update_minhash_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        occ_fold(
            lambda: update_minhash_index(
                spark, index_path, batch_df, on_overlap="skip_existing"
            )
        )

    drain_available_now(docs_stream, sink, checkpoint_dir)


def run_stream_to_ivf_corpus(
    spark: SparkSession,
    emb_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Drain an embedding stream into a list_id-partitioned parquet
    corpus (availableNow) — the streaming half of the IVF
    assignment-at-ingest story (ivf_partitioned_scan is the batch
    half): each vector is assigned to its persisted-index list with
    the NARROW per-row expression (similarity.ivf_assign_expr — no
    aggregation, legal in an append-mode stream) and lands in its
    ``list_id=N`` hive partition, so queries partition-prune to their
    nprobe lists with no reprocessing step between ingest and query.

    The sink is Spark's native streaming file sink, NOT foreachBatch:
    its _spark_metadata transaction log gives exactly-once file
    output under at-least-once processing (a replayed batch's files
    are never double-committed), and batch reads of ``corpus_dir``
    honor the log — duplicates from an abandoned attempt are
    invisible. That is strictly stronger than the anti-join replay
    absorption the BM25 fold needs, and it is free — the index is a
    pure partitioned append, no read-modify-write, so no OCC retry
    loop either. Requires the pre-trained ``centroids`` artifact
    (operators/ivf_index.load_ivf_index): training belongs offline,
    never in the ingest hot path.
    """
    from tinyerp_etl_spark.operators.similarity import ivf_assign_expr

    assigned = emb_stream.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_assign_expr(vec_col, centroids),
    )
    (
        assigned.writeStream.format("parquet")
        .partitionBy("list_id")
        .option("path", corpus_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_stream_to_pq_codes(
    spark: SparkSession,
    emb_stream: DataFrame,
    codes_dir: str,
    checkpoint_dir: str,
    codebook: list[tuple[int, int, list[int]]],
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Drain an embedding stream into the IVF-PQ ingest table
    (operators/pq_index.pq_encode_wide): one row per vector —
    (id, list_id, code_1..code_M) — hive-partitioned by ``list_id``.
    The streaming half of the compressed-corpus story: at 100 TB this
    table REPLACES the float matrix (M small ints per vector instead
    of 4·d bytes) and ``ivfpq_topk``'s read becomes a directory-pruned
    scan of nprobe partitions. Encode is the same shuffle-free
    projection as the batch face (legal in append mode); the native
    partitioned file sink gives exactly-once output under replay,
    exactly as run_stream_to_ivf_corpus. Both artifacts must be
    pre-trained (train-at-ingest, never in the stream)."""
    from tinyerp_etl_spark.operators.pq_index import pq_encode_wide

    (
        pq_encode_wide(
            emb_stream, codebook, centroids, id_col=id_col, vec_col=vec_col
        )
        .writeStream.format("parquet")
        .partitionBy("list_id")
        .option("path", codes_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_windowed_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    window_len: str = "1 hour",
    lateness: str = "30 minutes",
) -> None:
    """Watermarked windowed aggregation drained with availableNow.

    Uses update-mode foreachBatch: each batch's changed windows MERGE
    into the store keyed by (window_start, event_type), committed
    under the same optimistic-concurrency retry as the merge sink
    (idempotent MERGE makes the re-read + retry safe).
    """
    from tinyerp_etl_spark.etl.fold import drain_available_now, occ_fold

    agg = tumbling_counts(stream_df, window_len, lateness)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def fold() -> None:
            base = store.current_version()
            merged = merge_upsert(
                store.read_version(base), batch_df, ["window_start", "event_type"]
            )
            store.commit(merged, expected_version=base)

        occ_fold(fold)

    drain_available_now(agg, sink, checkpoint_dir, output_mode="update")


def dedup_events_stream(
    stream_df: DataFrame, lateness: str = "30 minutes"
) -> DataFrame:
    """Streaming ingest deduplication: drop event_id replays within the
    watermark horizon (``dropDuplicatesWithinWatermark``).

    The at-least-once source (reference page replays, op #22/#28) can
    re-deliver rows; this is the state-bounded streaming analog of the
    batch MERGE's key-dedup: state for an event_id is held only until
    the watermark passes its ts, so state size tracks the lateness
    horizon, not the stream's lifetime — the property that makes exact
    ingest dedup feasible on an unbounded 100 TB/day stream. (Plain
    ``dropDuplicates`` on a stream would grow state forever.)
    """
    return stream_df.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_stream_stream_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    lateness: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: every (view, purchase)
    pair for the same user where the purchase lands within ``horizon``
    after the view — streaming attribution.

    Both sides are unbounded, so this is a true stream-stream join:
    Spark buffers each side's rows in state and the TIME-RANGE
    predicate plus both watermarks bound how long — a view older than
    watermark - horizon can never match a future purchase, so its
    state is evicted. Without the range condition state grows forever;
    with it, state size tracks (horizon + lateness) worth of data, the
    property that makes this runnable on an unbounded stream. Batch
    semantics are the identical inner join (the stream==batch test
    pins equivalence), so the same line of SQL answers both the
    backfill and the live query — the lambda-architecture collapse.

    Inputs must carry (user_id, ts, event_id); output one row per
    attributed pair with the view->purchase latency in seconds.
    """
    v = (
        views.withWatermark("ts", lateness)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", lateness)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user
            AND purchase_ts > view_ts
            AND purchase_ts <= view_ts + INTERVAL {horizon}
            """
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.col("purchase_ts").cast("long") - F.col("view_ts").cast("long")
        ).alias("latency_sec"),
    )
