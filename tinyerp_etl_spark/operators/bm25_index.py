"""Persisted BM25i postings index: tokenize once at ingest, score
from the index at query time.

``text.bm25i_topk`` re-tokenizes the corpus on every query — fine for
a one-off, wrong as the steady state: tokenization is the most
expensive stage at scale and its output is query-independent. This
module materializes that output once as two TableStore artifacts:

- ``postings`` (token, doc_id, tf, dl): one row per distinct
  (document, token), committed with ``cluster_by=["token"]`` so the
  parquet row groups carry tight disjoint token ranges — a query's
  ``token IN (...)`` filter reaches the scan as a pushed predicate
  and prunes row groups/files before any IO (the data-skipping lever;
  at true scale the token hash-prefix would also be the partition
  column).
- ``stats`` (n_docs, total_len + corpus fingerprint): the two corpus
  constants BM25's idf and length normalization need, including
  zero-token documents the postings cannot represent.

``bm25i_topk_indexed`` then scores ANY query from the artifacts with
the exact integer arithmetic of ``bm25i_topk`` (bit_length idf,
capped tf, integer length norm) — same scores, bit-for-bit, with the
corpus scan replaced by a pruned index read. The gate query
(plans/llm_ops.py:bm25i_index_retrieval) shares the corpus-scan
oracle, so indexed ≡ scan is hash-proven every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tinyerp_etl_spark.etl.fold import compact_and_vacuum
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.operators.text import (
    BM25I_NORM_SCALE,
    BM25I_TF_CAP,
    tokens,
)

#: Output files per postings commit — the small-files control: the
#: range-partition-by-token sort shuffles into this many tasks/files
#: instead of the session shuffle-partition count (32 sorted files of
#: a few thousand rows each at test scale is pure overhead). A
#: cluster run sizes this to corpus_bytes / target_file_size.
POSTINGS_FILES = 8

#: Threshold-gated compaction for the postings store — the same
#: maintenance lever as the span store's (span_index.py): appends are
#: token-clustered only WITHIN each batch's files, so retrieval-time
#: token-range row-group skipping degrades as folds accumulate (every
#: fold's files straddle the full token range; the span-store measure
#: of the same effect is SCALE.md round-12 "Span key-set pushdown",
#: 0 % as-folded vs 97.2 % compacted). Past the threshold the fold
#: pays one O(table) rewrite into a single GLOBAL token tiling; the
#: strictly-greater threshold trips on the 7th fold after a
#: compaction (six appends reach exactly 64 files; the 7th passes).
POSTINGS_COMPACT_MAX_FILES = 64
POSTINGS_COMPACT_FILES = 16

#: Post-compaction retention for the POSTINGS store (same rationale
#: as span_index.SPAN_VACUUM_RETAIN): appends hard-link, compactions
#: materialize a full copy, and the index is a rebuildable derived
#: artifact — reap versions beyond the newest 3, only after a
#: compaction ran. 3, not 2: a compacting fold commits two versions
#: past the pre-fold current, and the pre-fold current is what a
#: concurrent reader has claimed — it must survive the fold that
#: compacts (near-zero bytes; the append hard-links it). Retention
#: interacts with ONE repair path: the skip_existing divergence
#: repair time-travels to postings current−1 (see the
#: `postings_version - 1` read below) and already degrades to the
#: rebuild-required branch via caught ValueError when that version
#: is gone; retain ≥ 2 preserves current−1 under the single-writer
#: ordering, and 3 keeps it safe under a racing compaction too. The
#: 1-row STATS store is deliberately NOT reaped: its versions cost
#: ~KB each and the torn-state diagnostics lean on its history.
POSTINGS_VACUUM_RETAIN = 3

BM25_POSTINGS_SCHEMA = StructType(
    [
        StructField("token", StringType()),
        StructField("doc_id", LongType()),
        StructField("tf", LongType()),
        StructField("dl", LongType()),
    ]
)

BM25_STATS_SCHEMA = StructType(
    [
        StructField("n_docs", LongType()),
        StructField("total_len", LongType()),
        StructField("fp_n", LongType()),
        StructField("fp_hashsum", DecimalType(38, 0)),
    ]
)


def build_bm25_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) for a document corpus.

    Offline build: the tokenizer runs over the corpus here — once —
    so it never runs at query time again. Stats count EVERY document;
    a ZERO-TOKEN document gets one (token=NULL, tf=0) membership row
    in the postings (explode_outer) — scoring never sees it (a term
    filter drops NULL tokens), but the postings' doc_id set then
    covers the whole corpus, which the incremental updater's
    append-only check relies on (a replayed empty doc must be caught,
    not silently double-counted into n_docs and the fingerprint).
    """
    with_dl = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens(text_col).alias("__toks"),
    ).select(
        "doc_id",
        F.array_size("__toks").cast("long").alias("dl"),
        F.col("__toks"),
    )
    postings = (
        with_dl.select("doc_id", "dl", F.explode_outer("__toks").alias("token"))
        .groupBy("token", "doc_id", "dl")
        # count(col) skips NULLs: the membership row gets tf=0
        .agg(F.count("token").cast("long").alias("tf"))
        .select("token", "doc_id", "tf", "dl")
    )
    stats = with_dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_len"),
    )
    return postings, stats


def _stats_and_fp(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[int, int, int]:
    """(n_docs, total_len, fp_hashsum) in ONE aggregate pass.

    Fuses the stats aggregate with the corpus fingerprint —
    previously two separate driver jobs per save/fold; at the control
    plane each Spark action costs more than the data at fold scale.
    The hash is bit-identical to ``ivf_index.corpus_fingerprint(docs,
    id_col, text_col)`` (same keyed string, same md5-prefix hash,
    same decimal(38,0) accumulation) and the fingerprint row count
    equals n_docs because both count the same rows — parity is pinned
    by test_incremental_update_equals_full_rebuild, which compares
    the additive fingerprint against a fresh corpus_fingerprint of
    the union.
    """
    from tinyerp_etl_spark.operators.similarity import _seed_hash

    keyed = F.concat_ws(
        "|", F.col(id_col).cast("string"), F.col(text_col).cast("string")
    )
    row = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.col(id_col)).cast("long").alias("n_ids"),
        F.coalesce(
            F.sum(F.array_size(tokens(text_col)).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("total_len"),
        F.coalesce(
            F.sum(_seed_hash(keyed).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("hsum"),
    ).first()
    if int(row["n_docs"]) != int(row["n_ids"]):
        # a duplicated (or NULL) doc_id would corrupt tf via the
        # postings groupBy merge AND desynchronize stats from the
        # postings' per-doc truth — the agreement probe would then
        # report an unrepairable 'torn' index without ever naming the
        # real cause. Fail at the source instead.
        raise ValueError(
            f"bm25 corpus/batch has {int(row['n_docs'])} rows but "
            f"{int(row['n_ids'])} distinct non-null {id_col} values — "
            "doc ids must be unique and non-null"
        )
    return int(row["n_docs"]), int(row["total_len"]), int(row["hsum"])


def _postings_digest(rows: DataFrame) -> tuple[int, int]:
    """(row count, exact hash-sum) over (token, doc_id, tf, dl) rows —
    the crash repair's content check: two postings slices are equal
    iff their digests are (same md5-prefix/decimal(38,0) idiom as the
    corpus fingerprint; NULL membership tokens keyed as '')."""
    from tinyerp_etl_spark.operators.similarity import _seed_hash

    keyed = F.concat_ws(
        "|",
        F.coalesce(F.col("token"), F.lit("")),
        F.col("doc_id").cast("string"),
        F.col("tf").cast("string"),
        F.col("dl").cast("string"),
    )
    row = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum(_seed_hash(keyed).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("hsum"),
    ).first()
    return int(row["n"]), int(row["hsum"])


def _stats_row(
    spark: SparkSession,
    n_docs: int,
    total_len: int,
    fp_n: int,
    hsum: int,
) -> DataFrame:
    import decimal

    from tinyerp_etl_spark.functions.localdf import local_df

    return local_df(
        spark,
        [(n_docs, total_len, fp_n, decimal.Decimal(hsum))],
        BM25_STATS_SCHEMA,
    )


def save_bm25_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected_postings_version: int | None = None,
    expected_stats_version: int | None = None,
) -> int:
    """Build and persist the index; returns the postings version.

    Postings are committed clustered by token (range-partitioned +
    sorted — row-group stats become disjoint token ranges); stats is
    a 1-row table carrying the corpus fingerprint for load-time
    validation. The fingerprint covers the TEXT values (an in-place
    edit that keeps the doc_id set must invalidate), and the postings
    commit FIRST: a crash between the two commits then leaves an old
    stats fingerprint next to new postings — a mismatch, so the next
    load fails closed and rebuilds — never a current fingerprint
    blessing stale postings. (On a FRESH path that crash leaves
    postings with NO stats at all; update_bm25_index detects that
    torn bootstrap instead of silently re-bootstrapping from its own
    batch.)

    The ``expected_*_version`` knobs pass through to the two commits
    (None: the version on disk when each commit starts). The update
    path's bootstrap and torn-bootstrap repair pass the versions they
    read, so two writers racing to CREATE the index raise for retry
    instead of the second v1 shadowing the first writer's rows.
    """
    postings, _ = build_bm25_index(docs, text_col, id_col)
    n_docs, total_len, hsum = _stats_and_fp(docs, text_col, id_col)
    version = TableStore(spark, f"{path}/postings", BM25_POSTINGS_SCHEMA).commit(
        postings,
        n_files=POSTINGS_FILES,
        cluster_by=["token"],
        expected_version=expected_postings_version,
    )
    TableStore(spark, f"{path}/stats", BM25_STATS_SCHEMA).commit(
        _stats_row(spark, n_docs, total_len, n_docs, hsum),
        n_files=1,
        expected_version=expected_stats_version,
    )
    return version


def update_bm25_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_overlap: bool = True,
    on_overlap: str = "raise",
    vacuum_retain: int | None = POSTINGS_VACUUM_RETAIN,
) -> int:
    """Fold a batch of NEW documents into the persisted index —
    incremental maintenance, bit-identical to a full rebuild (the
    kmv_merge_sketches discipline applied to text retrieval).

    Only the batch tokenizes AND only the batch commits: compute and
    write IO are both ∝ increment (the postings commit is an
    incremental commit_append referencing the previous version's
    files; a rebuild re-tokenizes and re-writes the corpus — the
    dominant costs at scale). No overlap is possible — the append-only
    contract is ENFORCED: a batch doc_id already present, including a
    zero-token doc via its membership row, raises instead of
    double-counting — stats add, and the corpus fingerprint adds
    EXACTLY (it is a sum over rows, so old ⊕ batch ≡ a fresh
    fingerprint of the union — no old-corpus scan needed to keep
    validation sound). Postings commit before stats, same
    crash-ordering rationale as save_bm25_index, and BOTH commits
    carry ``expected_version``: a concurrent fold or rebuild makes
    this read-modify-write raise ConcurrentWriteError (recompute and
    retry) instead of last-writer-wins losing a batch.

    ``check_overlap`` reads the postings' (doc_id, dl) columns —
    column-pruned, but still O(index) IO per fold since doc_id is
    neither the cluster nor partition key. At true scale either
    accept it, partition postings by a doc_id range too, or pass
    False when an upstream ledger already guarantees batch novelty
    (the ``verify=False`` analog on the IVF side). False also skips
    the postings/stats agreement probe below — the ledger is then
    trusted for crash accounting too.

    ``on_overlap`` chooses the replay semantics when the check finds
    already-indexed ids: ``"raise"`` (the batch-job default — a
    replayed batch is a caller bug) or ``"skip_existing"`` — fold
    only the genuinely-new docs, so an at-least-once delivery (a
    replayed streaming micro-batch, a retried page) folds to an
    exactly-once index, the same idempotence contract the MERGE sink
    gives row upserts. A fully-replayed batch is then a no-op that
    returns the current version.

    Crash safety (the two-commit window): a crash BETWEEN the
    postings commit and the stats commit leaves postings that contain
    a batch the stats never counted. The overlap probe therefore also
    verifies postings/stats AGREEMENT (stats.n_docs and
    stats.total_len against the postings' per-doc truth — same
    column-pruned read the overlap check already pays, one fused
    job). On divergence under ``skip_existing`` the fold repairs by
    identifying the EXACTLY-lost docs through time travel: the
    previous postings version is the last state stats agreed with, so
    current-minus-previous doc ids ARE the crashed fold's appends —
    never inferred from the batch's indexed slice, which also holds
    docs stats already counted when the batch overlapped pre-crash
    history (the normal at-least-once case). If the replayed batch
    carries all the lost docs and their contribution reconciles the
    totals, stats are repaired (n_docs, total_len AND the additive
    fingerprint) before normal folding resumes; a batch that does not
    cover the lost docs, text that no longer reconciles, or a
    vacuumed-away previous version raises instead of compounding;
    under ``"raise"`` divergence always raises. A torn BOOTSTRAP
    (postings with no
    stats at all, a crashed first save) is never silently
    re-bootstrapped from the batch: under ``skip_existing`` the fold
    rebuilds only when the batch COVERS every indexed doc (the
    replayed-first-batch case); anything else raises and demands an
    explicit full-corpus ``save_bm25_index``.
    """
    if on_overlap not in ("raise", "skip_existing"):
        raise ValueError(f"on_overlap must be 'raise' or 'skip_existing', got {on_overlap!r}")
    postings_store = TableStore(spark, f"{path}/postings", BM25_POSTINGS_SCHEMA)
    stats_store = TableStore(spark, f"{path}/stats", BM25_STATS_SCHEMA)
    postings_version = postings_store.current_version()
    stats_version = stats_store.current_version()
    if postings_version == stats_version == 0:
        # bootstrap against the empty versions read: a racing creator
        # makes the loser raise instead of its v1 silently shadowing
        # the winner's rows (the streaming face retries through this
        # same path)
        return save_bm25_index(
            spark,
            path,
            new_docs,
            text_col,
            id_col,
            expected_postings_version=postings_version,
            expected_stats_version=stats_version,
        )
    if stats_version == 0 or postings_version == 0:
        # torn index: exactly one artifact committed (a crash inside a
        # bootstrap save, or a vacuumed store). Rebuilding from the
        # batch alone would silently drop every previously indexed
        # doc. One sound repair: the batch is a REPLAY of the crashed
        # bootstrap (it covers all indexed ids) — rebuild from it.
        if postings_version > 0 and on_overlap == "skip_existing" and check_overlap:
            indexed = (
                postings_store.read_version(postings_version)
                .select("doc_id")
                .distinct()
            )
            batch_ids = new_docs.select(
                F.col(id_col).cast("long").alias("doc_id")
            ).distinct()
            uncovered = indexed.join(batch_ids, "doc_id", "left_anti")
            if uncovered.isEmpty():
                return save_bm25_index(
                    spark,
                    path,
                    new_docs,
                    text_col,
                    id_col,
                    expected_postings_version=postings_version,
                    expected_stats_version=stats_version,
                )
        raise RuntimeError(
            f"bm25 index at {path} is torn: "
            f"postings v{postings_version} / stats v{stats_version} — a "
            "crashed bootstrap committed one artifact without the other "
            "and this batch does not cover the indexed docs; rebuild "
            "over the full corpus with save_bm25_index"
        )
    postings = postings_store.read_version(postings_version)
    srow = stats_store.read_version(stats_version).first()
    stats_n = int(srow["n_docs"])
    stats_len = int(srow["total_len"])
    stats_fpn = int(srow["fp_n"])
    stats_hsum = int(srow["fp_hashsum"])

    if check_overlap:
        batch_ids = new_docs.select(
            F.col(id_col).cast("long").alias("doc_id")
        ).distinct()
        indexed = postings.select("doc_id").distinct()
        # ONE fused job over the postings' per-doc truth: the overlap
        # count AND the agreement totals (previously a semi-join
        # isEmpty that read the same columns and answered only the
        # first question). No broadcast hint: a backfill batch can be
        # arbitrarily large — let AQE pick the join strategy.
        probe = (
            postings.select("doc_id", "dl")
            .distinct()
            .join(batch_ids.withColumn("__b", F.lit(1)), "doc_id", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("px_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("px_len"),
                F.count("__b").cast("long").alias("n_overlap"),
            )
            .first()
        )
        diverged = int(probe["px_docs"]) != stats_n or int(probe["px_len"]) != stats_len
        if diverged:
            if on_overlap == "raise":
                raise RuntimeError(
                    f"bm25 index at {path} is torn: postings hold "
                    f"{int(probe['px_docs'])} docs / total_len "
                    f"{int(probe['px_len'])} but stats recorded {stats_n} / "
                    f"{stats_len} (a crash between the postings and stats "
                    "commits); replay the lost batch with "
                    "on_overlap='skip_existing' to repair, or rebuild with "
                    "save_bm25_index"
                )
            # identify the EXACT docs the crashed fold committed by
            # time-travelling to the previous postings version — the
            # last state stats agreed with — and diffing doc id sets.
            # Never guess from the batch's indexed slice: a batch that
            # overlapped pre-crash docs (normal under at-least-once
            # streaming) has indexed docs stats ALREADY counted, and
            # adding their contribution again would double-count.
            missing = None
            if postings_version > 1:
                try:
                    prev_ids = (
                        postings_store.read_version(postings_version - 1)
                        .select("doc_id")
                        .distinct()
                    )
                    missing = indexed.join(prev_ids, "doc_id", "left_anti")
                except ValueError:
                    missing = None  # previous version vacuumed away
            if missing is None or not missing.join(
                batch_ids, "doc_id", "left_anti"
            ).isEmpty():
                raise RuntimeError(
                    f"bm25 index at {path} is torn (postings "
                    f"{int(probe['px_docs'])} docs / stats {stats_n}) and "
                    "this batch is not a replay of the crashed fold (it "
                    "does not account for the missing docs, or the "
                    "pre-crash postings version is no longer retained); "
                    "rebuild over the full corpus with save_bm25_index"
                )
            missing_docs = new_docs.join(
                missing,
                new_docs[id_col].cast("long") == missing["doc_id"],
                "left_semi",
            )
            o_n, o_len, o_hsum = _stats_and_fp(missing_docs, text_col, id_col)
            if o_n == 0 or (
                stats_n + o_n != int(probe["px_docs"])
                or stats_len + o_len != int(probe["px_len"])
            ):
                raise RuntimeError(
                    f"bm25 index at {path} is torn (postings "
                    f"{int(probe['px_docs'])} docs / stats {stats_n}) and "
                    "the replayed slice does not reconcile the totals — "
                    "the batch text may differ from the crashed fold's; "
                    "rebuild over the full corpus with save_bm25_index"
                )
            # counts alone cannot see a MUTATED replay (same doc count,
            # same total length, different words) — but the postings DO
            # hold the crashed fold's exact (token, doc, tf, dl) rows,
            # so verify the replayed text re-tokenizes to precisely
            # them before trusting its hash into the fingerprint
            replayed_rows, _ = build_bm25_index(missing_docs, text_col, id_col)
            stored_rows = postings.join(missing, "doc_id", "left_semi")
            if _postings_digest(replayed_rows) != _postings_digest(stored_rows):
                raise RuntimeError(
                    f"bm25 index at {path} is torn and the replayed "
                    "batch's text does not tokenize to the crashed "
                    "fold's postings (a mutated replay) — repairing "
                    "would bless a fingerprint the postings do not "
                    "match; rebuild over the full corpus with "
                    "save_bm25_index"
                )
            stats_n += o_n
            stats_len += o_len
            stats_fpn += o_n
            stats_hsum += o_hsum
            stats_store.commit(
                _stats_row(spark, stats_n, stats_len, stats_fpn, stats_hsum),
                n_files=1,
                expected_version=stats_version,
            )
            stats_version += 1
        if int(probe["n_overlap"]) > 0:
            if on_overlap == "raise":
                raise ValueError(
                    "update_bm25_index batch contains doc_ids already indexed; "
                    "incremental maintenance is append-only — rebuild "
                    "(save_bm25_index) to replace documents"
                )
            new_docs = new_docs.join(
                indexed,
                new_docs[id_col].cast("long") == indexed["doc_id"],
                "left_anti",
            )
    n_new, len_new, hsum_new = _stats_and_fp(new_docs, text_col, id_col)
    if n_new == 0:
        # fully-replayed (or empty) batch: a version-preserving no-op
        return postings_version
    new_postings, _ = build_bm25_index(new_docs, text_col, id_col)
    merged_stats = _stats_row(
        spark,
        stats_n + n_new,
        stats_len + len_new,
        stats_fpn + n_new,
        stats_hsum + hsum_new,
    )
    # INCREMENTAL commit: the new version hard-links the previous
    # version's immutable postings files and writes only the batch's
    # files — fold IO ∝ batch, never ∝ index (TableStore.commit_append).
    # Append-only is enforced above (overlap anti-join), so no row is
    # ever rewritten; batch files are token-clustered within
    # themselves (per-file row-group pruning holds), and compact()
    # restores one globally-clustered layout when file count warrants.
    version = postings_store.commit_append(
        new_postings,
        n_files=POSTINGS_FILES,
        cluster_by=["token"],
        expected_version=postings_version,
    )
    stats_store.commit(merged_stats, n_files=1, expected_version=stats_version)
    # threshold-gated OPTIMIZE (after BOTH artifacts land, so the
    # torn-state window is unchanged; compaction rewrites the same
    # rows, so the stats fingerprint still agrees and the repair
    # path's version-diff logic sees a content-identical snapshot;
    # see POSTINGS_VACUUM_RETAIN for the retention trade)
    compacted = compact_and_vacuum(
        postings_store,
        POSTINGS_COMPACT_MAX_FILES,
        POSTINGS_COMPACT_FILES,
        ["token"],
        vacuum_retain,
    )
    return version if compacted is None else compacted


def load_bm25_index(
    spark: SparkSession,
    path: str,
    expect_fingerprint: tuple[int, int] | None = None,
) -> tuple[DataFrame, dict] | None:
    """(postings DataFrame, stats dict) or None when absent/stale.

    The postings come back as a lazy DataFrame over the current
    version — filters compose onto the parquet scan (pushdown), so
    loading costs nothing until a query selects its terms.
    """
    stats_store = TableStore(spark, f"{path}/stats", BM25_STATS_SCHEMA)
    postings_store = TableStore(spark, f"{path}/postings", BM25_POSTINGS_SCHEMA)
    if not stats_store.exists() or not postings_store.exists():
        return None
    srow = stats_store.read().first()
    if srow is None:
        return None
    if expect_fingerprint is not None and (
        (int(srow["fp_n"]), int(srow["fp_hashsum"])) != expect_fingerprint
    ):
        return None
    stats = {
        "n_docs": int(srow["n_docs"]),
        "total_len": int(srow["total_len"]),
        "fp_n": int(srow["fp_n"]),
        "fp_hashsum": int(srow["fp_hashsum"]),
    }
    return postings_store.read(), stats


def bm25i_topk_indexed(
    postings: DataFrame,
    stats: dict,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Integer BM25 top-k scored FROM the index — no tokenizer, no
    corpus scan; the term filter is the first thing the plan does, so
    the clustered parquet read touches only the query terms' postings
    (tests pin the pushed filter).

    Arithmetic is the literal ``text.bm25i_topk`` scoring: idf =
    bit_length(n_docs div df), tf capped at BM25I_TF_CAP, integer
    length norm over BM25I_NORM_SCALE — so the indexed and scan faces
    return identical (doc_id, score) rows for any query.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(query_terms)
    hits = postings.filter(F.col("token").isin(terms))
    dfreq = hits.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    n_docs, total_len = int(stats["n_docs"]), int(stats["total_len"])
    raw = (
        hits.join(F.broadcast(dfreq), "token")
        .withColumn(
            "__bits",
            F.length(F.bin(F.expr(f"{n_docs} div __df"))).cast("long"),
        )
        .groupBy("doc_id", "dl")
        .agg(
            F.sum(
                F.col("__bits") * F.least(F.col("tf"), F.lit(BM25I_TF_CAP))
            ).alias("__raw")
        )
    )
    ns = BM25I_NORM_SCALE
    scored = raw.select(
        "doc_id",
        F.expr(
            f"({2 * ns} * __raw) div "
            f"({ns} + ({ns} * dl * {n_docs}) div {total_len})"
        )
        .cast("long")
        .alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
