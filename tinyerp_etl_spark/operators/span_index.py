"""Persisted span-gram index: the INCREMENTAL face of ExactSubstr
span removal.

``dedup.remove_dup_spans`` is the one-shot form — it needs the whole
corpus in one frame. A training-data ingest never has that: batches
arrive forever, and each new batch must be cleaned against EVERYTHING
already ingested without rescanning it. This store is the
"persist the expensive face" discipline applied to span grams (the
same shape as the BM25 postings / MinHash feature / paragraph
first-occurrence stores): at ingest each batch registers one row per
(gram, doc) — (gram_key, doc_id, pos of the doc's first occurrence) —
through the shared fold harness (etl/fold.fold_append: claim →
bootstrap-OCC → pinned-read → doc-novelty filter → commit_append, IO
∝ batch); at clean time the batch's gram keys broadcast into a
semi-join probing ONE column-pruned store scan, so the historical
corpus never shuffles and never re-tokenizes.

SEQUENTIAL ≡ ONE-SHOT law (pinned by test, including its boundary):
with doc_ids increasing across batches — the ingest-order contract,
ENFORCED by the fold (a late-arriving lower doc_id raises; the
keep-one-canonical rule is only first-ingested-wins under it) — each
batch's cleaned output equals, doc for doc, byte for byte, one-shot
``remove_dup_spans`` over the PREFIX corpus (every batch up to and
including this one) restricted to this batch's docs. The law is
deliberately NOT stated over the final corpus for HISTORY docs:
written data is immutable, so when a later batch duplicates a gram an
earlier doc self-repeated, the one-shot over the final corpus would
also delete the earlier doc's non-canonical self-occurrences — the
incremental path never rewrites emitted docs (the test pins this
divergence explicitly so it cannot pass silently for the wrong
reason). For each batch AT ITS OWN INGEST TIME the two forms are
exactly equal, which is also what makes the gate row hash-checkable:
its batch is the corpus suffix, so its prefix IS the full corpus.
The store registers the batch's ORIGINAL grams (not the cleaned
text's): duplicated-span determination must see every occurrence
ever ingested, or a passage deleted from batch 2 could be
re-admitted verbatim in batch 3 (the ExactSubstr convention — dedup
against everything SEEN, not everything KEPT). The span width ``k``
is a STORE property (recorded in every row, validated on every fold
and clean): probing a k=8 store with k=50 grams would silently match
nothing and wave every cross-history duplicate through.

Gram keys are xxhash64 of the k-token gram (the at-scale exchange
shape ``dup_span_coverage``/``remove_dup_spans`` expose as
``join_on_hash``): ~2^32 distinct grams before a collision is likely,
and a collision costs one falsely-removed span — the trade every
production span-dedup run makes (documented at dup_span_coverage).

ref tiny_api_v2_cliente.py:79-134 (the reference's incremental
per-page ingest loop) is the lineage; the span semantics follow Lee
et al. 2021 ("Deduplicating Training Data Makes Language Models
Better"), §4's remove-all-but-one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from tinyerp_etl_spark.etl.fold import (
    drain_available_now,
    fold_append,
    occ_fold,
    prematerialized,
)
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.functions.materialize import materialize
from tinyerp_etl_spark.operators.dedup import (
    SPAN_K,
    positional_ngram_rows,
    rebuild_without_positions,
    removed_position_arrays,
)

#: Files per fold commit — small-files control (the POSTINGS_FILES /
#: FEATURE_FILES convention); a cluster sizes this to bytes/target.
SPAN_FILES = 8

#: Largest batch gram-key set the clean path collects driver-side and
#: PUSHES into the store scan as an In() filter (8 B × cap ≈ 8 KB —
#: control-plane). With the store cluster_by=["gram_key"] layout,
#: parquet row-group/page min/max stats then SKIP every unit
#: containing none of the probed keys. TWO measured hard edges size
#: this cap (see SCALE.md round-11): (a) parquet only evaluates In()
#: per-value up to the session's inFilterThreshold — past it the
#: filter silently degrades to min..max, useless over a uniform hash
#: domain — so session.py raises that conf in lockstep and the
#: operator re-checks the live value; (b) Spark 4.1's per-value
#: filter builds a recursive OR chain that OVERFLOWS THE JVM STACK
#: somewhere between 1 200 and 1 500 values — 1 000 keeps a margin.
#: Honest pruning expectation for xxhash64 keys (uniform over int64):
#: a stats unit of R rows survives key-free with probability
#: e^(−K·R/N) for K probed keys over N stored rows, so pruning bites
#: exactly when K ≪ N/R = the store's stats-unit count — trickle
#: batches and point audits against a LARGE history (measured on the
#: layout at N = 4 M, units ≈ 200: 11 spread keys → 200×, 100 → 2×,
#: 500+ → nothing). Batches over the cap skip the collect entirely
#: and rely on the broadcast semi-join alone, whose scan is already
#: column-pruned to the 8-byte key.
SPAN_PROBE_PUSHDOWN_CAP = 1000

#: The pushdown's scale gate: push only when the store holds at least
#: this many rows PER probed key (≈ the ~20 k-row parquet page stats
#: granularity) — below it no unit can be key-free (the e^(−K·R/N)
#: law above) and the collect + In()-build driver cost buys nothing.
#: Decided by the guard probe's fused store agg; at a 100 TB history
#: the condition is always true.
SPAN_PUSHDOWN_MIN_STORE_ROWS_PER_KEY = 16_384

#: Threshold-gated compaction for the gram store (the production
#: caller of TableStore.maybe_compact). Folds commit cluster_by=
#: ["gram_key"] but only WITHIN each batch's SPAN_FILES files — every
#: fold re-tiles the full xxhash64 domain, so the key-set pushdown's
#: row-group stats prune 0 % against the as-folded layout at ANY fold
#: count, vs 97.2 % after one global tiling (both measured: SCALE.md
#: round-12 "Span key-set pushdown"). When an append pushes the file
#: count past SPAN_COMPACT_MAX_FILES, the fold pays one O(table)
#: clustered rewrite into SPAN_COMPACT_FILES files restoring that
#: global tiling: the strictly-greater threshold trips on the 7th
#: fold after a compaction (six appends reach exactly 64 files; the
#: 7th passes it), amortizing the rewrite to ~1/7 of the table per
#: fold. A cluster retunes both to its bytes/file target (the
#: stats-unit granularity at production sizes comes from 128 MB row
#: groups WITHIN files, so SPAN_COMPACT_FILES needs only to bound
#: file-open overhead, not to supply units).
SPAN_COMPACT_MAX_FILES = 64
SPAN_COMPACT_FILES = 16

#: Post-compaction retention (fold_append step 8). Appends hard-link
#: the previous version's files — near-zero storage, never reaped —
#: but each compaction MATERIALIZES a full store copy; without
#: retention every trip adds one permanent full copy (O(table) disk
#: per ~7 folds at the cadence above). The gram store is a
#: rebuildable derived artifact (re-fold the corpus) and no pipeline
#: pins old versions, so retention defaults ON. Retain 3, not 2: a
#: compacting fold commits TWO versions past the pre-fold current
#: v_N (its append v_N+1, then the compacted v_N+2), so retain=2
#: would reap v_N — the exact version a concurrent reader or racing
#: fold claims — inside the very fold that compacted, turning the
#: racer's retried ConcurrentWriteError into an unretried
#: FileNotFound mid-scan (r14 review finding). With 3, the pre-fold
#: current survives the fold that compacts and stays readable for a
#: full further cycle (~7 folds) before any reap can touch it — and
#: at near-zero byte cost, because v_N+1 hard-links v_N's files; the
#: only fresh copy on disk is the compacted v_N+2. The trade stays
#: explicit: ``read_version`` of a reaped version raises (pinned by
#: test_fold_vacuum_after_compaction_reaps_old_versions and the
#: cadence tests); pass ``vacuum_retain=None`` to keep every version
#: (external retention policy / time-travel debugging).
SPAN_VACUUM_RETAIN = 3

SPAN_INDEX_SCHEMA = StructType(
    [
        StructField("gram_key", LongType()),
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        # the span width the keys were built at — constant per store
        # (RLE-compresses to nothing in parquet), validated on every
        # fold and clean so a k-mismatched probe fails loudly instead
        # of silently matching no history
        StructField("k", LongType()),
    ]
)


def _stored_k(stored: DataFrame) -> int | None:
    """The store's span width — one control-plane row; None if empty."""
    row = stored.select("k").first()
    return None if row is None else int(row["k"])


def _check_k(stored_k: int | None, k: int, path: str, what: str) -> None:
    if stored_k is not None and stored_k != k:
        raise ValueError(
            f"span index at {path} was built at k={stored_k}; {what} "
            f"with k={k} would hash different grams and silently match "
            "no history — build a separate store per span width"
        )


def span_gram_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, SPAN_INDEX_SCHEMA)


def keyed_positional_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
) -> DataFrame:
    """(id, pos, gram_key) — EVERY k-gram occurrence with its hashed
    key: the ONE definition of the keyed positional frame both the
    clean path and the fold derivation consume (a drift here would
    silently split what 'the same gram' means between the two
    halves)."""
    return positional_ngram_rows(docs, text_col, id_col, k).select(
        F.col(id_col),
        "pos",
        F.xxhash64("gram").alias("gram_key"),
    )


def gram_rows_from_positional(
    pg: DataFrame, id_col: str = "doc_id", k: int = SPAN_K
) -> DataFrame:
    """Collapse a ``keyed_positional_rows`` frame to the store's
    (gram_key, doc_id, first pos, k) fold rows — the shared tail of
    ``build_span_gram_rows`` and the composed loop's tokenize-once
    path."""
    return (
        pg.select(
            "gram_key",
            F.col(id_col).cast("long").alias("doc_id"),
            F.col("pos").cast("long").alias("pos"),
        )
        .groupBy("gram_key", "doc_id")
        .agg(F.min("pos").alias("pos"))
        .withColumn("k", F.lit(int(k)).cast("long"))
    )


def build_span_gram_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
) -> DataFrame:
    """(gram_key, doc_id, pos) — one row per (gram, doc), pos = the
    doc's FIRST occurrence of that gram (1-based token position).

    Per-doc first occurrence is all the downstream math needs: the
    duplicated rule counts DISTINCT docs per gram, and the canonical
    occurrence is min (doc_id, pos) — which the per-doc min preserves
    exactly. One tokenize-once gram pass + one groupBy; docs with < k
    tokens emit nothing (they hold no k-gram and can never duplicate
    a span)."""
    return gram_rows_from_positional(
        keyed_positional_rows(docs, text_col, id_col, k), id_col, k
    )


def update_span_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_overlap: str = "raise",
    k: int = SPAN_K,
    compact_max_files: int | None = SPAN_COMPACT_MAX_FILES,
    compact_n_files: int = SPAN_COMPACT_FILES,
    vacuum_retain: int | None = SPAN_VACUUM_RETAIN,
    prebuilt_gram_rows: DataFrame | None = None,
    _prepinned_fresh_rows: bool = False,
) -> int:
    """Fold a batch's ORIGINAL grams into the persisted index.

    ``prebuilt_gram_rows`` (optimization round 14, guide §1.2 "don't
    compute things twice"): a caller that has ALREADY tokenized the
    batch into positional gram rows (the composed clean-and-fold
    loop) can pass the ``build_span_gram_rows``-shaped frame —
    (gram_key, doc_id, pos, k) with pos = per-(gram, doc) first
    occurrence — and skip this function's own tokenize + posexplode
    pass over the batch text. The frame MUST be derived from the
    same ``new_docs`` batch at the same ``k``; all guards (replay
    filter, ingest-order, k contract) run on it unchanged.

    Only the batch tokenizes AND only the batch's rows are written
    (the shared harness's ``commit_append``) — fold compute and IO
    are both ∝ batch. Replay contract identical to the MinHash fold:
    ``"raise"`` treats an already-indexed doc_id as a caller bug,
    ``"skip_existing"`` anti-joins replayed docs away so at-least-once
    delivery folds to an exactly-once index (a replayed doc re-adding
    its gram rows would double-count it toward the ≥2-distinct-docs
    rule and falsely mark its self-repeats as duplicated). Two
    contracts the module's correctness rests on are ENFORCED, not
    assumed: a store built at a different ``k`` raises (its keys hash
    different grams), and the INGEST-ORDER contract raises on any
    genuinely-new doc_id at or below the store's max — a late
    out-of-order arrival would make the store copy canonical where
    the one-shot rule says the newcomer is, silently breaking the
    sequential ≡ one-shot law the oracle strategy assumes. A batch of
    only sub-k docs is a version-preserving no-op (returns 0 on an
    absent store, never creating an empty artifact).

    MAINTENANCE: past ``compact_max_files`` data files the fold pays
    one threshold-gated O(table) clustered rewrite restoring the
    GLOBAL gram_key tiling the clean path's key-set pushdown needs
    (the as-folded layout prunes 0 % at any fold count — see
    SPAN_COMPACT_MAX_FILES). Contents are identical, so the
    sequential ≡ one-shot law, the ingest-order max, and the k
    contract all survive compaction unchanged; pass
    ``compact_max_files=None`` to disable (e.g. when an external
    maintenance job owns OPTIMIZE scheduling). When a compaction ran,
    versions beyond the newest ``vacuum_retain`` are reaped — the
    store is a rebuildable derived artifact, so retention defaults ON
    (see SPAN_VACUUM_RETAIN for the retained-snapshot guarantee and
    the time-travel trade); ``vacuum_retain=None`` keeps every
    version."""
    if on_overlap not in ("raise", "skip_existing"):
        raise ValueError(
            f"on_overlap must be 'raise' or 'skip_existing', got {on_overlap!r}"
        )
    if _prepinned_fresh_rows and prebuilt_gram_rows is None:
        raise ValueError(
            "_prepinned_fresh_rows requires prebuilt_gram_rows"
        )
    if _prepinned_fresh_rows:
        # the composed clean-and-fold loop's PRIVATE fast path: the
        # frame is ALREADY per-(gram, doc)-collapsed and pinned by
        # gram_rows_from_positional over the loop's own positional
        # pin (the one caller sits ten lines above in this module),
        # so re-aggregating and re-materializing it here would be
        # duplicate work (optimization round 15 — one small write +
        # one exchange per fold step removed). The k contract stays
        # STRUCTURAL even here (free projection over the pin); the
        # first-occurrence collapse is owned by the caller's
        # gram_rows_from_positional derivation — callers outside the
        # composed loop must use the public prebuilt_gram_rows path,
        # which re-collapses unconditionally.
        rows = prebuilt_gram_rows.select("gram_key", "doc_id", "pos").withColumn(
            "k", F.lit(int(k)).cast("long")
        )
    elif prebuilt_gram_rows is None:
        rows = materialize(build_span_gram_rows(new_docs, text_col, id_col, k))
    else:
        # BOTH fold contracts are STRUCTURAL, not comment-enforced
        # (optimization round 14 review + ADVICE r14): the k column is
        # re-stamped from this call's k via gram_rows_from_positional's
        # tail, and the same tail's groupBy min(pos) collapses a frame
        # that still carries one row per OCCURRENCE — a caller passing
        # raw keyed_positional_rows can no longer silently fold
        # duplicate (gram_key, doc_id) rows and break the per-(gram,
        # doc) first-occurrence invariant. Idempotent (and one cheap
        # exchange) on already-collapsed input.
        rows = materialize(
            gram_rows_from_positional(
                prebuilt_gram_rows.select("gram_key", "doc_id", "pos"),
                "doc_id",
                k,
            )
        )

    def fresh_rows(stored: DataFrame, batch: DataFrame) -> DataFrame:
        _check_k(_stored_k(stored), k, path, "folding")
        if _prepinned_fresh_rows:
            # the composed loop ALREADY anti-joined the batch against
            # this store's current version (single logical writer per
            # store, the module contract), so the replay-absorbing
            # anti-join is a structural no-op here — skipped, while
            # the law guards below (ingest-order probe; the k check
            # above) still run on every fold
            fresh = batch
            probe = fresh.agg(
                F.min("doc_id").alias("lo"), F.count(F.lit(1)).alias("n")
            ).first()
            if int(probe["n"]):
                hi_row = stored.agg(F.max("doc_id").alias("hi")).first()
                hi = hi_row["hi"]
                if hi is not None and int(probe["lo"]) <= int(hi):
                    raise ValueError(
                        f"span index at {path}: batch doc_id "
                        f"{int(probe['lo'])} does not postdate the "
                        f"indexed max {int(hi)} — the ingest-order "
                        "contract (sequential ≡ one-shot law) admits "
                        "only increasing doc_ids; re-id the late "
                        "arrival or rebuild over the full corpus"
                    )
            return fresh
        indexed = stored.select("doc_id").distinct()
        if on_overlap == "raise":
            n = (
                batch.select("doc_id")
                .distinct()
                .join(indexed, "doc_id", "left_semi")
                .count()
            )
            if n:
                raise ValueError(
                    f"span index at {path}: {n} batch doc_ids are already "
                    "indexed — the fold is append-only; replay with "
                    "on_overlap='skip_existing' if this is an "
                    "at-least-once redelivery"
                )
            fresh = batch
        else:
            # materialized HERE (and marked for the harness) because
            # the ingest-order probe below is an action over the
            # survivors — unmaterialized, the batch-vs-store anti-join
            # would run once for the probe and again when fold_append
            # writes the rows
            fresh = prematerialized(batch.join(indexed, "doc_id", "left_anti"))
        # ingest-order guard: every genuinely-new doc must postdate
        # everything indexed (one column-pruned agg per side, the
        # overlap probe's cost class)
        probe = fresh.agg(
            F.min("doc_id").alias("lo"), F.count(F.lit(1)).alias("n")
        ).first()
        if int(probe["n"]):
            hi_row = stored.agg(F.max("doc_id").alias("hi")).first()
            hi = hi_row["hi"]
            if hi is not None and int(probe["lo"]) <= int(hi):
                raise ValueError(
                    f"span index at {path}: batch doc_id {int(probe['lo'])} "
                    f"does not postdate the indexed max {int(hi)} — the "
                    "ingest-order contract (sequential ≡ one-shot law) "
                    "admits only increasing doc_ids; re-id the late "
                    "arrival or rebuild over the full corpus"
                )
        return fresh

    return fold_append(
        span_gram_store(spark, path),
        rows,
        fresh_rows,
        n_files=SPAN_FILES,
        # range-partitioned + sorted by gram_key (the bm25 token /
        # para layout): parquet row-group min/max stats on the key
        # column let the clean-time store probe SKIP row groups whose
        # key range misses the batch — without it the clean scans the
        # whole history's gram_key column per batch, O(history) at
        # 100 TB where this layout is O(matching row groups)
        cluster_by=["gram_key"],
        skip_empty_bootstrap_result=0,
        # threshold-gated OPTIMIZE: appends keep the clustering only
        # per-file; past the threshold one O(table) rewrite restores
        # the GLOBAL gram_key tiling the key-set pushdown's stats
        # skipping depends on (see the constants' doc above)
        compact_max_files=compact_max_files,
        compact_n_files=compact_n_files,
        vacuum_retain=vacuum_retain,
    )


def clean_batch_against_store(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
    _prebuilt_pg: DataFrame | None = None,
    _prebuilt_fr: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens, n_removed_tokens, clean_text) for every BATCH
    doc, with duplicated spans removed against store ∪ batch — the
    steady-state ingest form of ``remove_dup_spans``.

    A batch gram is DUPLICATED iff it exists in the store (every store
    doc predates every batch doc under the ingest-order contract, so
    the historical copy is canonical and no batch occurrence is
    protected) or it occurs in ≥ 2 distinct batch docs (the batch-min
    (doc_id, pos) occurrence is canonical and stays protected — the
    one-shot rule applied within the batch). The store version is
    pinned ONCE (``read_version``) and read in one column-pruned pass
    (gram_key only — a third of the narrow schema's bytes),
    semi-joined to the batch's broadcast key set: the store never
    shuffles, never re-tokenizes, and contributes nothing but the
    membership bit the math needs. Output rows cover the batch only —
    store docs are already written and are NEVER rewritten, which is
    exactly the law's scope (module docstring): this batch's output ≡
    one-shot over the prefix corpus restricted to this batch; a later
    batch duplicating a gram a HISTORY doc self-repeated does not
    reach back into that doc.

    Both law preconditions are ENFORCED here (mirroring the fold, same
    probe cost class): a batch whose gram-holding docs are already
    indexed raises (fold-then-clean misuse — every gram would self-hit
    and every >= k-token doc would silently come back empty), and a
    gram-holding doc_id at or below the store max raises (out-of-order
    — canonicality would silently land on the store copy).
    """
    store = span_gram_store(spark, path)
    stored = store.read()
    # _prebuilt_pg: the composed clean-and-fold loop tokenizes the
    # batch ONCE and shares the pinned positional rows between this
    # clean and the subsequent gram fold (optimization round 14) —
    # a keyed_positional_rows frame over the same batch at the same k.
    # _prebuilt_fr: the loop's pinned gram_rows_from_positional(pg)
    # collapse — MUST be derived from the same pg at the same k
    pg = (
        _prebuilt_pg
        if _prebuilt_pg is not None
        else materialize(keyed_positional_rows(batch, text_col, id_col, k))
    )
    # per-(gram, doc) first-occurrence rows (optimization round 15,
    # guide §2.3): the batch key set and the canonical-occurrence
    # stats below need only ONE row per (gram, doc) — deriving them
    # from this collapsed frame replaces the old count_distinct(id)
    # Expand over every OCCURRENCE row with a plain partial-aggregable
    # count(1) + min(struct), and the composed clean-and-fold loop
    # passes its pinned copy (``_prebuilt_fr``) so the very same
    # aggregation also serves the gram fold (one pass, three
    # consumers). min over (doc, per-doc-min-pos) == min over all
    # occurrences, so the canonical pick is identical.
    fr = (
        _prebuilt_fr
        if _prebuilt_fr is not None
        else gram_rows_from_positional(pg, id_col, k)
    )
    # The law's preconditions are ENFORCED here exactly as the fold
    # enforces them — clean is the misuse-prone half (fold-then-clean
    # instead of clean-then-fold would make every batch gram self-hit
    # the store, apply no canonical protection, and silently emit
    # every >= k-token doc as clean_text='' — total data loss with no
    # error; an out-of-order batch would silently crown the store copy
    # canonical where the one-shot rule crowns the lower-id batch
    # doc). Probe over the materialized gram rows, mirroring the
    # fold's scope: a sub-k doc holds no grams, cannot be mis-cleaned
    # (its output is its input), and is invisible to the fold's guard
    # too. Cost: one block-read agg + one column-pruned store agg —
    # the fold's probe cost class; the overlap semi-join runs only on
    # the already-failing path to pick the right error.
    probe = pg.agg(
        F.min(F.col(id_col).cast("long")).alias("lo"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    store_rows = 0
    if int(probe["n"]):
        # ONE store pass serves all three control-plane needs: the k
        # contract (`first` over the constant column — any row), the
        # guard's max(doc_id), and the pushdown gate's row count. A
        # gram-free batch skips it entirely: it cannot be mis-cleaned
        # at any k and every downstream set is empty.
        hi_row = stored.agg(
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.first("k").alias("k"),
        ).first()
        _check_k(
            None if hi_row["k"] is None else int(hi_row["k"]),
            k, path, "cleaning",
        )
        hi = hi_row["hi"]
        store_rows = int(hi_row["n"])
        if hi is not None and int(probe["lo"]) <= int(hi):
            n_indexed = (
                pg.select(F.col(id_col).cast("long").alias("doc_id"))
                .distinct()
                .join(stored.select("doc_id"), "doc_id", "left_semi")
                .count()
            )
            if n_indexed:
                raise ValueError(
                    f"span index at {path}: {n_indexed} batch doc_ids are "
                    "already indexed — clean BEFORE folding (fold-then-"
                    "clean makes every batch gram self-hit the store and "
                    "deletes the batch's entire text); clean against the "
                    "store version that predates this batch's fold"
                )
            raise ValueError(
                f"span index at {path}: batch doc_id {int(probe['lo'])} "
                f"does not postdate the indexed max {int(hi)} — the "
                "ingest-order contract (sequential ≡ one-shot law) admits "
                "only increasing doc_ids; cleaning this batch would treat "
                "the store copy as canonical where the one-shot rule "
                "crowns the lower-id batch doc. Re-id the late arrival or "
                "rebuild over the full corpus"
            )
    batch_keys = fr.select("gram_key").distinct()
    store_scan = stored.select("gram_key")
    # small-probe pushdown: a batch whose key set fits the cap — AND
    # whose store is large enough that min/max stats can actually skip
    # units (the e^(−K·R/N) law at the constants above) — collects it
    # and pushes an In() filter to the scan, where the
    # cluster_by=["gram_key"] layout turns it into row-group/page
    # skipping. The gate is the guard probe's ALREADY-COMPUTED gram-
    # row count (distinct keys ≤ rows, so the cap holds a fortiori —
    # no extra job) and the one fused store agg above. Parquet only
    # translates In() per-value up to the session's inFilterThreshold
    # — past it the filter silently degrades to a useless min..max
    # range over the hash domain — so the live conf caps what this
    # path will push (session.py raises it to the cap; a session that
    # lowers it just declines the optimization). The semi-join below
    # stays — it is the correctness path and the only path for
    # over-cap batches; the pushdown can only shrink what it reads.
    n_rows = int(probe["n"])
    if (
        0 < n_rows <= SPAN_PROBE_PUSHDOWN_CAP
        and store_rows >= n_rows * SPAN_PUSHDOWN_MIN_STORE_ROWS_PER_KEY
    ):
        keys = [r["gram_key"] for r in batch_keys.collect()]
        threshold = int(
            spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold")
        )
        if 0 < len(keys) <= threshold:
            store_scan = store_scan.filter(F.col("gram_key").isin(keys))
    store_hit = (
        store_scan
        .join(F.broadcast(batch_keys), "gram_key", "left_semi")
        .distinct()
    )
    # fr holds exactly one row per (gram, doc) with the per-doc MIN
    # pos, so distinct-doc counting is a plain count(1) and the
    # canonical (doc, pos) min is unchanged (for the smallest doc_id
    # its per-doc min pos is what the min over all occurrences picked)
    # — no count_distinct Expand over occurrence rows. pos rides as
    # long in fr; cast back to int so the rebuild's element_at index
    # type is byte-identical to the occurrence-row form.
    batch_stats = fr.groupBy("gram_key").agg(
        F.count(F.lit(1)).alias("__bn"),
        F.min(
            F.struct(
                F.col("doc_id").alias("cid"),
                F.col("pos").cast("int").alias("cpos"),
            )
        ).alias("__c"),
    )
    batch_only_dup = batch_stats.join(
        store_hit, "gram_key", "left_anti"
    ).filter(F.col("__bn") >= 2)
    # store_hit ⊆ the batch's key set already, so it IS the in-store
    # half of the duplicated keys — no re-derivation join needed
    dup_keys = store_hit.unionByName(batch_only_dup.select("gram_key"))
    # dup_keys ⊆ the batch's distinct grams — the same batch-bounded
    # frame already broadcast into the store probe, so broadcast here
    # too (a sort-merge would shuffle the gram rows for no reason).
    # Per-doc position ARRAYS instead of exploded (id, __tok) rows
    # (optimization round 14 — see dedup.removed_position_arrays):
    # shuffle one row per duplicated occurrence, expand ×k inside the
    # array, and the rebuild never shuffles the batch's tokens.
    cov = (
        pg.join(F.broadcast(dup_keys), "gram_key")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__cps"))
    )
    # protection exists only for grams whose canonical lives in the
    # batch — i.e. grams absent from the store
    prot = batch_only_dup.groupBy(F.col("__c.cid").alias(id_col)).agg(
        F.collect_list("__c.cpos").alias("__pps")
    )
    removed = removed_position_arrays(cov, prot, id_col, k)
    return rebuild_without_positions(batch, removed, text_col, id_col)


def gram_novelty_against_store(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
) -> DataFrame:
    """(id, n_grams, n_novel_grams, novelty_ppm) per batch doc — the
    freshness / memorization-risk signal: how much of a document's
    k-gram vocabulary is UNSEEN in the ingested history. A doc whose
    grams are mostly already-indexed adds little new signal (and, for
    eval candidates, is at risk of being memorized verbatim); mixture
    builders weight by exactly this quantity.

    DISTINCT grams per doc (the standard vocabulary form — occurrence
    counts are ``dup_span_coverage``'s business); novelty is measured
    against HISTORY only, never batch-mates (batch-internal repetition
    belongs to the dedup ops). Read-only and order-insensitive —
    membership against the store is well-defined for ANY batch,
    including already-folded docs (novelty 0, a meaningful answer), so
    unlike clean/fold no ingest-order guard applies; the k contract
    still does. Integer ppm end to end. Plan shape = the clean probe:
    the batch's distinct keys broadcast into one column-pruned,
    version-pinned store scan; sub-k docs report (0, 0, 0).
    """
    store = span_gram_store(spark, path)
    stored = store.read()
    _check_k(_stored_k(stored), k, path, "probing")
    # materialized because the distinct-gram frame feeds THREE
    # independent subtrees below (the broadcast store probe, the seen
    # semi-join, and the per-doc counts) — unmaterialized, Spark
    # re-tokenizes the batch once per subtree (no CSE across joins;
    # the clean path materializes its pg for the same reason)
    pg = materialize(
        positional_ngram_rows(batch, text_col, id_col, k)
        .select(F.col(id_col), F.xxhash64("gram").alias("gram_key"))
        .distinct()
    )
    batch_keys = pg.select("gram_key").distinct()
    store_hit = (
        stored.select("gram_key")
        .join(F.broadcast(batch_keys), "gram_key", "left_semi")
        .distinct()
    )
    seen = pg.join(F.broadcast(store_hit), "gram_key", "left_semi")
    per_doc = (
        pg.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
        .join(
            seen.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("long").alias("__seen")
            ),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            "n_grams",
            (F.col("n_grams") - F.coalesce(F.col("__seen"), F.lit(0)))
            .cast("long")
            .alias("n_novel_grams"),
        )
    )
    return (
        batch.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel_grams"), F.lit(0))
            .cast("long")
            .alias("n_novel_grams"),
        )
        .withColumn(
            "novelty_ppm",
            F.when(
                F.col("n_grams") > 0,
                F.expr("(n_novel_grams * 1000000) div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


def cleaned_docs_schema(id_col: str = "doc_id") -> StructType:
    """Schema of the cleaned-output store ``clean_and_fold_batch``
    maintains (matches ``rebuild_without_positions``'s output)."""
    return StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_tokens", LongType()),
            StructField("n_removed_tokens", LongType()),
            StructField("clean_text", StringType()),
        ]
    )


def cleaned_docs_store_read(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Current contents of a cleaned-output store
    (``clean_and_fold_batch``'s second artifact)."""
    return TableStore(spark, path, cleaned_docs_schema(id_col)).read()


def clean_and_fold_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    cleaned_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SPAN_K,
) -> DataFrame:
    """ONE step of the production ExactSubstr ingest loop — the
    composition the two halves exist for: pre-filter replays → CLEAN
    the batch against history → idempotently append the cleaned rows
    (when ``cleaned_path`` is given) → FOLD the batch's ORIGINAL grams.
    Returns the batch's cleaned rows (genuinely-new docs only),
    materialized.

    Crash-consistency, step by step (each sub-store is itself an
    idempotent fold, so the composition replays to exactly-once):

    - replay pre-filter: docs already in the GRAM store anti-join away
      (they were fully processed — the gram fold is the LAST step, so
      its membership implies the cleaned row was already written);
      this is also what feeds the clean path a batch that always
      satisfies its already-indexed guard.
    - crash after the cleaned append, before the gram fold: the replay
      re-cleans the same docs against the UNCHANGED store (same
      output, the law), and the cleaned store's doc-novelty fold
      drops the duplicate rows; the gram fold then proceeds.
    - crash after the gram fold, before the stream checkpoint: the
      replayed batch pre-filters to empty — every step no-ops.

    Concurrency contract: single logical writer per store pair (the
    sibling folds' contract); racing writers are absorbed by
    ``occ_fold`` around the whole step (ConcurrentWriteError recomputes
    against the winner), and interleaved doc_id ranges from two
    writers fail the ingest-order guard by design. The batch
    tokenizes ONCE (optimization round 14 — the pinned positional
    gram rows serve the clean directly and the fold derives its
    first-occurrence rows from the same pin); history tokenizes
    never.
    """
    store = span_gram_store(spark, index_path)
    version = store.current_version()
    if version == 0:
        fresh = batch
    else:
        indexed = (
            store.read_version(version)
            .select(F.col("doc_id").alias(id_col))
            .distinct()
        )
        fresh = materialize(batch.join(indexed, id_col, "left_anti"))
    # tokenize the batch ONCE (optimization round 14, guide §1.2) and
    # collapse it to per-(gram, doc) first-occurrence rows ONCE
    # (optimization round 15, guide §2.3): the pinned pg serves the
    # clean's coverage join; the pinned fr serves the clean's key set
    # + canonical-occurrence stats AND is the fold's rows frame —
    # previously the clean ran its own count_distinct Expand over
    # every occurrence row and the fold re-aggregated and re-pinned
    # the same collapse (interleaved A/B at sf0.1 with the fold fast
    # path below: count 6.72 → 6.28 s, noop 7.19 → 6.85 s min-of-5,
    # rows identical).
    pg = materialize(keyed_positional_rows(fresh, text_col, id_col, k))
    fr = materialize(gram_rows_from_positional(pg, id_col, k))
    cleaned = materialize(
        clean_batch_against_store(
            spark, index_path, fresh, text_col, id_col, k,
            _prebuilt_pg=pg, _prebuilt_fr=fr,
        )
    )
    if cleaned_path is not None:
        out_store = TableStore(spark, cleaned_path, cleaned_docs_schema(id_col))
        fold_append(
            out_store,
            cleaned,
            lambda stored, rows: rows.join(
                stored.select(id_col), id_col, "left_anti"
            ),
            n_files=SPAN_FILES,
            skip_empty_bootstrap_result=0,
        )
    # fold fast path: fr is already collapsed, k-stamped and pinned,
    # and `fresh` was anti-joined against this store's CURRENT version
    # above (single logical writer), so the fold skips its replay
    # anti-join and its re-materialize while keeping the k and
    # ingest-order guards (optimization round 15)
    update_span_index(
        spark, index_path, fresh, text_col, id_col,
        on_overlap="skip_existing", k=k,
        prebuilt_gram_rows=fr, _prepinned_fresh_rows=True,
    )
    return cleaned


def run_stream_clean_and_fold(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    cleaned_path: str,
    checkpoint_dir: str,
    occ_retries: int = 3,
) -> None:
    """The streaming face of the production ingest loop: drain a
    document stream through ``clean_and_fold_batch`` (availableNow),
    maintaining BOTH stores — the cleaned corpus and the gram index —
    with the composition's replay-to-exactly-once contract (see
    clean_and_fold_batch). The retry recomputes the whole step against
    the winner, which is safe for the same reason every fold here is:
    each sub-store's fresh-filter re-derives what is new."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        occ_fold(
            lambda: clean_and_fold_batch(
                spark, index_path, batch_df, cleaned_path
            ),
            occ_retries,
        )

    drain_available_now(docs_stream, sink, checkpoint_dir)


def run_stream_to_span_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    occ_retries: int = 3,
) -> None:
    """Maintain the span-gram index from a document stream
    (availableNow) — register-at-ingest: each micro-batch folds its
    own grams via ``update_span_index``, so ``clean_batch_against_
    store`` always sees grams current to the last drained batch.
    Same replay and concurrency contract as every streaming fold:
    ``skip_existing`` absorbs at-least-once redelivery, and
    ConcurrentWriteError retries through the shared harness
    (etl/fold.occ_fold — safe, the doc-novelty filter re-derives
    what is new against the winner)."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        occ_fold(
            lambda: update_span_index(
                spark, path, batch_df, on_overlap="skip_existing"
            ),
            occ_retries,
        )

    drain_available_now(docs_stream, sink, checkpoint_dir)
