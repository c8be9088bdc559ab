"""Shared fold harness for the persisted-index stores.

Seven stores maintain themselves by folding batches into a versioned
TableStore artifact (BM25 postings, MinHash features, the paragraph
first-occurrence index, the Bloom bitmap, the IVF/PQ corpus layouts,
the span-gram index, the DSIR raw-model counts). Each of the first
five grew its own copy of the same three pieces of plumbing, and
every next store would have had to re-implement them — the exact
surface a crash window re-enters through. This module is the single
copy (the sixth and seventh stores are pure instances):

- ``fold_append``: the claim-version → pinned-read → fresh-rows
  filter → no-op probe → incremental ``commit_append`` skeleton, one
  path for every version, 0 (the empty store) included (the MinHash
  and paragraph folds are pure instances; BM25's two-artifact fold
  keeps its specialist torn-state repair but shares the streaming
  pieces below).
- ``occ_fold``: the optimistic-concurrency retry loop — recompute the
  whole read-modify-write against the winner on ConcurrentWriteError,
  give up loudly after ``occ_retries``.
- ``drain_available_now``: the foreachBatch + availableNow +
  awaitTermination drain every streaming fold shares.
- ``compact_and_vacuum``: the threshold-gated compaction and
  retention tail of every compacting fold.

Contracts preserved from the originals (their tests run unchanged
against this path): every commit carries the claimed version, so two
racing creators or folders never both land; the store read is pinned
to the claimed version (``read_version``) so a concurrent fold landing
mid-read cannot split the probe from the commit; a fold that appends
nothing preserves the version; fold compute and IO are both ∝ batch
(ref tiny_api_v2_cliente.py:79-134 runs the analogous per-page
commit loop against one PostgreSQL transaction — this is its
multi-artifact, optimistic-concurrency counterpart).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame

from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
from tinyerp_etl_spark.functions.materialize import materialize

T = TypeVar("T")

#: Attribute ``prematerialized`` stamps on the frames it returns so
#: ``fold_append`` can trust them without a second block copy.
_PREMATERIALIZED_ATTR = "_graft_prematerialized"


def prematerialized(df: DataFrame) -> DataFrame:
    """Materialize a fresh-rows result INSIDE the callback and mark it
    so ``fold_append`` skips its own materialization.

    For when the per-store ``fresh_rows`` semantics need an ACTION on
    the filtered frame before returning it (the span fold's
    ingest-order probe aggregates over the anti-joined survivors):
    without the marker the harness would re-materialize the returned
    frame — on an unmaterialized plan that re-runs the whole
    batch-vs-store anti-join a second time. The marker rides the
    DataFrame object itself, so only the exact frame the callback
    materialized is trusted; any derived frame goes through the
    harness's own materialize as before.
    """
    out = materialize(df)
    setattr(out, _PREMATERIALIZED_ATTR, True)
    return out


def occ_fold(fold: Callable[[], T], occ_retries: int = 3) -> T:
    """Run one read-modify-write fold under optimistic concurrency.

    ``fold`` must CLAIM the version inside itself (so each retry
    recomputes against the winner) and is only safe to retry if its
    result is a function of (store state, batch) — true for every
    fold here: skip-existing filters, first-occurrence joins, bit_or
    merges, and idempotent MERGEs all re-derive what is new. After
    ``occ_retries`` consecutive losses the error propagates — a fold
    that cannot win in N attempts is contending with a writer the
    operator should know about, not a race to paper over.
    """
    for attempt in range(occ_retries + 1):
        try:
            return fold()
        except ConcurrentWriteError:
            if attempt == occ_retries:
                raise
    raise AssertionError("unreachable")


def drain_available_now(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str | None = None,
) -> None:
    """foreachBatch + availableNow + awaitTermination — drain the
    backlog through ``sink`` and stop (the test/backfill trigger; a
    production stream runs the same sink continuous)."""
    writer = stream_df.writeStream.foreachBatch(sink)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def fold_append(
    store: TableStore,
    batch_rows: DataFrame,
    fresh_rows: Callable[[DataFrame, DataFrame], DataFrame],
    n_files: int | None = None,
    cluster_by: list[str] | None = None,
    compact_max_files: int | None = None,
    compact_n_files: int | None = None,
    vacuum_retain: int | None = None,
) -> int:
    """The append-only fold skeleton shared by the single-artifact
    feature stores.

    1. CLAIM: ``current_version()`` once, up front (0 for the empty
       store).
    2. PINNED READ: the claimed version is read via ``read_version``,
       never a floating ``read()`` — a concurrent fold landing between
       steps cannot make the fresh-rows probe and the commit see
       different corpora. Version 0 stores nothing, so there the
       batch is the fresh set and steps 2-3 are skipped.
    3. FRESH ROWS: ``fresh_rows(stored_pinned, batch_rows)`` returns
       what the batch genuinely adds (anti-join away replays, keep
       first occurrences, raise on a contract breach — the per-store
       semantics live HERE and only here). Returning ``batch_rows``
       itself skips the extra materialization.
    4. NO-OP: nothing fresh ⇒ the claimed version returns unchanged —
       a fully-replayed batch folds to exactly-once, and an empty
       first batch creates no version (0 returns).
    5. APPEND: ``commit_append`` hard-links the previous version's
       immutable files and writes only the fresh rows' files — fold
       IO ∝ batch — carrying ``expected_version`` so a concurrent
       writer raises for ``occ_fold`` to retry; two racing creators
       of a new store both append onto version 0, and the loser
       raises instead of its v1 shadowing the winner's.
    6. MAINTENANCE (opt-in via ``compact_max_files``): after the
       append lands, a threshold-gated ``maybe_compact`` rewrites the
       store into ``compact_n_files`` globally-clustered files when
       the file count exceeds the threshold. Appends keep
       ``cluster_by`` only WITHIN each batch's files — every fold
       re-tiles the full key domain, so row-group min/max stats prune
       NOTHING against a key probe at any fold count (measured:
       SCALE.md round-12 "Span key-set pushdown", 0 % as-folded vs
       97.2 % compacted) — and periodic compaction into one global
       tiling is the lever that makes stats-level skipping real. The
       compaction runs under the same optimistic concurrency as the
       fold; LOSING the race is swallowed (the fold itself already
       landed — the racing winner's own fold re-checks the threshold,
       so compaction is delayed one fold, never lost). Pick
       ``compact_max_files`` ≥ ``compact_n_files`` + several folds'
       worth of ``n_files`` or the post-compaction count re-triggers
       an O(table) rewrite every fold. Returns the compacted version
       when compaction ran, else the appended version — callers get
       "the current version containing my fold" either way.
    7. RETENTION (via ``vacuum_retain``, only meaningful with
       compaction enabled; the harness default is None — each STORE
       picks its policy, and the three compacted production stores
       pass 3: span_index.SPAN_VACUUM_RETAIN,
       para_index.PARA_VACUUM_RETAIN, bm25_index's postings face):
       appends hard-link the previous version's files (near-zero
       storage), but a compaction MATERIALIZES a full fresh copy —
       without retention every trip adds one permanent O(table) copy.
       When a compaction ran, ``vacuum(retain_last=vacuum_retain)``
       reaps versions beyond the newest N. The trade is explicit and
       the caller's: reaped versions are gone for time travel
       (``read_version`` raises), so only enable it where the store
       is a rebuildable derived artifact and the pipeline pins no old
       versions; a compacting fold commits TWO versions past the
       pre-fold current (append, then compaction), so a store that
       wants "a just-claimed snapshot survives the fold that
       compacts" needs retain ≥ 3 (the production stores' choice —
       near-zero bytes, since the append hard-links it). Never runs
       on the append-only path — hard-linked versions cost nothing
       to keep.
    """
    version = store.current_version()
    fresh = batch_rows
    if version > 0:
        fresh = fresh_rows(store.read_version(version), batch_rows)
        if fresh is not batch_rows and not getattr(
            fresh, _PREMATERIALIZED_ATTR, False
        ):
            fresh = materialize(fresh)
    if fresh.limit(1).isEmpty():
        return version
    appended = store.commit_append(
        fresh,
        n_files=n_files,
        cluster_by=cluster_by,
        expected_version=version,
    )
    if compact_max_files is not None:
        compacted = compact_and_vacuum(
            store,
            compact_max_files,
            compact_n_files if compact_n_files is not None else (n_files or 1),
            cluster_by,
            vacuum_retain,
        )
        if compacted is not None:
            return compacted
    return appended


def compact_and_vacuum(
    store: TableStore,
    max_files: int,
    n_files: int,
    cluster_by: list[str] | None,
    vacuum_retain: int | None,
) -> int | None:
    """A fold's maintenance tail (``fold_append`` steps 6-7, also run
    by the BM25 fold): ``maybe_compact``, then
    ``vacuum(retain_last=vacuum_retain)`` only when a compaction ran.
    Returns the compacted version, or None when the store is under
    the threshold or a racing writer won the compaction (the fold
    itself already landed; compaction is delayed one fold)."""
    try:
        compacted = store.maybe_compact(
            max_files=max_files, n_files=n_files, cluster_by=cluster_by
        )
    except ConcurrentWriteError:
        return None
    if compacted is not None and vacuum_retain is not None:
        store.vacuum(retain_last=vacuum_retain)
    return compacted
