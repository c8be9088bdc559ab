"""Persisted span-gram index: the sequential ≡ one-shot law, the
replay contract, store-shuffle-free cleaning, and the streaming fold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tinyerp_etl_spark.operators import dedup as D
from tinyerp_etl_spark.operators import span_index as SI


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_SHARED = "alpha beta gamma delta epsilon zeta eta theta"


def test_sequential_equals_one_shot_law(spark, tmp_path):
    """The law AT ITS TRUE SCOPE: each batch's cleaned output equals
    one-shot remove_dup_spans over the PREFIX corpus (batches up to
    and including it) restricted to that batch's docs — including
    cross-batch duplication, within-batch duplication, a passage
    deleted in batch 2 re-arriving in batch 3 (dedup against
    everything SEEN, not everything KEPT), and a doc SELF-REPEATING a
    gram a later batch duplicates. The test also pins the documented
    boundary: for that last case the one-shot over the FINAL corpus
    diverges on the HISTORY doc (it would delete the non-canonical
    self-occurrence; the incremental path never rewrites emitted
    docs), so the full-union equality the first cut asserted is
    deliberately NOT the contract."""
    b1 = _docs(spark, [(1, f"one two {_SHARED} three"),
                       (2, "totally unique text here nothing shared at all ok"),
                       # self-repeats its gram run; batch 3 will
                       # duplicate it cross-doc
                       (3, "s1 s2 s3 s4 s5 s6 s7 s8 s1 s2 s3 s4 s5 s6 s7 s8")])
    b2 = _docs(spark, [(10, f"{_SHARED} five six"),
                       (11, f"head {_SHARED} tail"),
                       (12, "w1 w2 w3 w4 w5 w6 w7 w8 mid"),
                       (13, "pre w1 w2 w3 w4 w5 w6 w7 w8")])
    b3 = _docs(spark, [(20, f"{_SHARED} again"),        # seen in b1/b2
                       (21, "w1 w2 w3 w4 w5 w6 w7 w8"),  # deleted from 13, re-arrives
                       (22, "s1 s2 s3 s4 s5 s6 s7 s8 end")])  # duplicates 3's self-repeat
    path = str(tmp_path / "span")
    got = {}
    prefix = None
    for b in (b1, b2, b3):
        batch_ids = {r["doc_id"] for r in b.select("doc_id").collect()}
        cleaned = {r["doc_id"]: tuple(r)[1:]
                   for r in SI.clean_batch_against_store(spark, path, b).collect()}
        got.update(cleaned)
        SI.update_span_index(spark, path, b)
        prefix = b if prefix is None else prefix.unionByName(b)
        want_now = {r["doc_id"]: tuple(r)[1:]
                    for r in D.remove_dup_spans(prefix).collect()
                    if r["doc_id"] in batch_ids}
        assert cleaned == want_now, f"prefix law broke at batch {sorted(batch_ids)}"
    # the pinned boundary: doc 3 kept its self-repeat (sole owner at
    # ingest time) and is immutable; one-shot over the FINAL corpus
    # would have cut it
    final = {r["doc_id"]: tuple(r)[1:]
             for r in D.remove_dup_spans(prefix).collect()}
    assert got[3][1] == 0 and "s8 s1" in got[3][2]
    assert final[3][1] == 8  # the one-shot deletes the second copy
    # everything WITHOUT the self-repeat boundary agrees with the
    # final one-shot too
    assert {k: v for k, v in got.items() if k != 3} == {
        k: v for k, v in final.items() if k != 3
    }


def test_replay_contract(spark, tmp_path):
    path = str(tmp_path / "span")
    b = _docs(spark, [(1, f"x {_SHARED} y"), (2, f"{_SHARED} z")])
    v = SI.update_span_index(spark, path, b)
    store = SI.span_gram_store(spark, path)
    with pytest.raises(ValueError, match="already indexed"):
        SI.update_span_index(spark, path, b)
    # full replay under skip_existing: version-preserving no-op
    assert SI.update_span_index(spark, path, b, on_overlap="skip_existing") == v
    # partial replay folds only the new doc
    mixed = b.unionByName(_docs(spark, [(5, f"q {_SHARED} r")]))
    v2 = SI.update_span_index(spark, path, mixed, on_overlap="skip_existing")
    assert v2 == v + 1
    ids = {r["doc_id"] for r in store.read().select("doc_id").distinct().collect()}
    assert ids == {1, 2, 5}


def test_sub_k_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "span")
    assert SI.update_span_index(spark, path, _docs(spark, [(1, "too short")])) == 0
    assert SI.span_gram_store(spark, path).current_version() == 0


def test_clean_plan_is_store_shuffle_free(spark, tmp_path):
    """The store contributes one column-pruned scan probed by a
    broadcast semi-join — never a sort-merge (which would shuffle
    history) and no lint findings."""
    from tinyerp_etl_spark.operators.planlint import plan_findings

    path = str(tmp_path / "span")
    SI.update_span_index(spark, path, _docs(spark, [(1, f"a {_SHARED} b")]))
    out = SI.clean_batch_against_store(
        spark, path, _docs(spark, [(10, f"{_SHARED} c")])
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the STORE is only ever touched through gram_key joins — those
    # must broadcast the batch side, never sort-merge (which would
    # shuffle history). The rebuild tail's doc_id joins are
    # batch-scale and free to pick any strategy.
    assert "BroadcastHashJoin [gram_key" in plan
    assert "SortMergeJoin [gram_key" not in plan
    assert plan_findings(out) == []


def test_streaming_fold_matches_batch(spark, tmp_path, sf_dir):
    """Drain the documents table as a stream into the index; the
    store must equal a one-shot batch registration, and a replayed
    drain must be a version-preserving no-op."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.limit(40).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    path = str(tmp_path / "span")
    ckpt = str(tmp_path / "ckpt")
    SI.run_stream_to_span_index(spark, stream, path, ckpt)
    batch_path = str(tmp_path / "span_batch")
    SI.update_span_index(spark, path=batch_path, new_docs=docs.limit(40))
    rows = lambda p: sorted(
        tuple(r) for r in SI.span_gram_store(spark, p).read().collect()
    )
    assert rows(path) == rows(batch_path)
    v = SI.span_gram_store(spark, path).current_version()
    rerun = spark.readStream.schema("doc_id long, text string").parquet(src)
    SI.run_stream_to_span_index(spark, rerun, path, str(tmp_path / "ckpt2"))
    assert SI.span_gram_store(spark, path).current_version() == v


def test_k_mismatch_raises_on_fold_and_clean(spark, tmp_path):
    """k is a store property: probing or folding a k=8 store at k=50
    would hash different grams and silently match no history — both
    faces must refuse instead."""
    path = str(tmp_path / "span")
    SI.update_span_index(spark, path, _docs(spark, [(1, f"a {_SHARED} b")]), k=8)
    with pytest.raises(ValueError, match="built at k=8"):
        SI.update_span_index(
            spark, path, _docs(spark, [(5, f"c {_SHARED} d")]), k=5
        )
    with pytest.raises(ValueError, match="built at k=8"):
        SI.clean_batch_against_store(
            spark, path, _docs(spark, [(10, f"{_SHARED} e")]), k=5
        )


def test_out_of_order_doc_id_raises(spark, tmp_path):
    """The ingest-order contract is enforced, not assumed: a
    genuinely-new doc_id at or below the indexed max raises in BOTH
    overlap modes (a silent fold would let the store copy win
    canonicality the one-shot rule assigns to the newcomer)."""
    path = str(tmp_path / "span")
    SI.update_span_index(spark, path, _docs(spark, [(10, f"a {_SHARED} b")]))
    late = _docs(spark, [(5, f"c {_SHARED} d")])
    with pytest.raises(ValueError, match="postdate"):
        SI.update_span_index(spark, path, late)
    with pytest.raises(ValueError, match="postdate"):
        SI.update_span_index(spark, path, late, on_overlap="skip_existing")
    # a replay of the indexed doc itself still absorbs cleanly
    v = SI.span_gram_store(spark, path).current_version()
    assert SI.update_span_index(
        spark, path, _docs(spark, [(10, f"a {_SHARED} b")]),
        on_overlap="skip_existing",
    ) == v


def test_clean_rejects_out_of_order_batch(spark, tmp_path):
    """The clean path enforces the ingest-order contract the fold
    does: cleaning a not-yet-folded batch whose gram-holding doc_ids
    don't postdate the store max would silently crown the store copy
    canonical where the one-shot rule crowns the lower-id batch doc.
    Sub-k docs hold no grams, cannot be mis-cleaned, and pass."""
    path = str(tmp_path / "span")
    SI.update_span_index(spark, path, _docs(spark, [(10, f"a {_SHARED} b")]))
    with pytest.raises(ValueError, match="postdate"):
        SI.clean_batch_against_store(
            spark, path, _docs(spark, [(5, f"c {_SHARED} d")])
        )
    out = SI.clean_batch_against_store(
        spark, path, _docs(spark, [(5, "too short")])
    ).collect()
    assert [(r["doc_id"], r["clean_text"]) for r in out] == [(5, "too short")]


def test_clean_rejects_already_folded_batch(spark, tmp_path):
    """Fold-then-clean misuse fails loudly: every batch gram would
    self-hit the store, no canonical protection would apply, and every
    >= k-token doc would silently come back as clean_text='' — total
    data loss. The guard names the misuse instead."""
    path = str(tmp_path / "span")
    b = _docs(spark, [(1, f"a {_SHARED} b"), (2, f"{_SHARED} tail")])
    SI.update_span_index(spark, path, b)
    with pytest.raises(ValueError, match="already indexed"):
        SI.clean_batch_against_store(spark, path, b)


def test_store_files_are_gram_key_clustered(spark, tmp_path):
    """Each fold commit range-partitions + sorts its files by gram_key
    (cluster_by through the shared harness — the BM25 token-layout
    precedent), so the clean-time store probe prunes row groups via
    parquet min/max stats instead of scanning O(history). Pinned by
    the layout's observable invariant: within one commit, per-file
    gram_key ranges are pairwise disjoint and rows are sorted in-file."""
    path = str(tmp_path / "span")
    docs = _docs(
        spark,
        [(i, " ".join(f"w{i}_{j}" for j in range(24))) for i in range(64)],
    )
    SI.update_span_index(spark, path, docs)
    rows = (
        SI.span_gram_store(spark, path)
        .read()
        .select("gram_key", F.input_file_name().alias("f"))
        .collect()
    )
    by_file: dict[str, list[int]] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["gram_key"])
    assert len(by_file) > 1  # the probe needs >1 file to mean anything
    for keys in by_file.values():
        assert keys == sorted(keys)  # sortWithinPartitions held
    spans = sorted((min(v), max(v)) for v in by_file.values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo  # repartitionByRange: disjoint file ranges


def test_small_probe_pushdown_reaches_scan_and_is_result_invariant(
    spark, tmp_path, monkeypatch
):
    """A batch under SPAN_PROBE_PUSHDOWN_CAP against a large-enough
    store pushes its key set into the store scan (PushedFilters:
    In(gram_key, ...)) where the clustered layout prunes row groups;
    the pushdown must never change the answer (semi-join stays the
    correctness path); and the scale gate skips the driver collect
    when the store is too small for stats units to be key-free."""
    path = str(tmp_path / "span")
    hist = _docs(
        spark,
        [(i, " ".join(f"h{i}_{j}" for j in range(16))) for i in range(50)]
        + [(90, f"x {_SHARED} y")],
    )
    SI.update_span_index(spark, path, hist)
    batch = _docs(spark, [(100, f"{_SHARED} tail here")])
    # a test-scale store can't have key-free stats units: the scale
    # gate must SKIP the pushdown (no In filter in the plan)
    skipped = SI.clean_batch_against_store(spark, path, batch)
    assert "In(gram_key" not in skipped._jdf.queryExecution().executedPlan().toString()
    # force the pushdown (as a 100 TB-history store would) and pin
    # that it reaches the scan and never changes the answer
    monkeypatch.setattr(SI, "SPAN_PUSHDOWN_MIN_STORE_ROWS_PER_KEY", 0)
    out = SI.clean_batch_against_store(spark, path, batch)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "In(gram_key" in plan, plan[:2000]
    got = sorted(tuple(r) for r in out.collect())
    # duplicated-against-history span removed even though pushed
    assert got[0][3] == "tail here"
    assert got == sorted(tuple(r) for r in skipped.collect())
    monkeypatch.setattr(SI, "SPAN_PROBE_PUSHDOWN_CAP", 0)
    unpushed = sorted(
        tuple(r)
        for r in SI.clean_batch_against_store(spark, path, batch).collect()
    )
    assert unpushed == got


def test_bootstrap_rides_occ(spark, tmp_path):
    """Two writers racing to CREATE the index must not last-writer-win
    (the second v1 would silently shadow the first batch's grams): the
    bootstrap commit carries expected_version=0 through the shared
    harness, so a store that advanced between the look and the commit
    raises for retry — and the retry folds cleanly."""
    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError

    path = str(tmp_path / "span")
    a = _docs(spark, [(1, f"a {_SHARED} b")])
    b = _docs(spark, [(2, f"c {_SHARED} d")])
    # writer A looked at the empty store... then writer B committed
    SI.update_span_index(spark, path, b)
    store = SI.span_gram_store(spark, path)
    rows_a = SI.build_span_gram_rows(a)
    with pytest.raises(ConcurrentWriteError):
        store.commit(rows_a, n_files=SI.SPAN_FILES, expected_version=0)
    # ...but doc 1 predates indexed doc 2: the ingest-order guard must
    # refuse the retry too (the loser's batch is genuinely late now)
    with pytest.raises(ValueError, match="postdate"):
        SI.update_span_index(spark, path, a, on_overlap="skip_existing")
    # a properly re-id'd late batch folds fine
    v = SI.update_span_index(
        spark, path, _docs(spark, [(9, f"a {_SHARED} b")]),
        on_overlap="skip_existing",
    )
    assert v == 2


def test_prefix_law_property(spark):
    """The prefix law under randomized corpora: partition random docs
    (with deliberately colliding k=3 grams, empty docs, self-repeats)
    into ingest-ordered batches — each batch's clean output must equal
    one-shot remove_dup_spans over the prefix restricted to it."""
    import shutil
    import tempfile

    from hypothesis import given, settings, strategies as st

    words = [f"t{i}" for i in range(5)]
    doc = st.lists(st.sampled_from(words), min_size=0, max_size=9).map(" ".join)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(doc, min_size=2, max_size=10),
        st.lists(st.integers(min_value=0, max_value=2), min_size=10, max_size=10),
    )
    def run(texts, cut):
        k = 3
        docs = list(enumerate(texts))
        batches = [
            [d for d, c in zip(docs, cut) if c == b] for b in range(3)
        ]
        # ingest order: re-id so batch b's ids follow batch b-1's
        seq, nid = [], 0
        for b in batches:
            out = []
            for _, t in b:
                out.append((nid, t))
                nid += 1
            seq.append(out)
        root = tempfile.mkdtemp(prefix="span_prop_")
        try:
            path = root + "/idx"
            prefix_rows = []
            for rows in seq:
                if not rows:
                    continue
                b = _docs(spark, rows)
                got = {
                    r["doc_id"]: tuple(r)[1:]
                    for r in SI.clean_batch_against_store(
                        spark, path, b, k=k
                    ).collect()
                }
                SI.update_span_index(spark, path, b, k=k)
                prefix_rows.extend(rows)
                want = {
                    r["doc_id"]: tuple(r)[1:]
                    for r in D.remove_dup_spans(
                        _docs(spark, prefix_rows), k=k
                    ).collect()
                    if r["doc_id"] in got
                }
                assert got == want
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_gram_novelty_counts(spark, tmp_path):
    """Exact distinct-gram novelty vs HISTORY: overlapping docs score
    partial ppm, unseen docs 1000000, already-folded docs 0 (a
    meaningful answer — no ingest-order guard on this read-only
    probe), sub-k docs (0, 0, 0), and a k mismatch refuses."""
    path = str(tmp_path / "span")
    hist = _docs(spark, [(1, f"a {_SHARED} b")])  # grams of a..b window
    SI.update_span_index(spark, path, hist)
    batch = _docs(
        spark,
        [
            (1, f"a {_SHARED} b"),      # already folded: novelty 0
            (10, f"a {_SHARED} b"),     # exact re-render: novelty 0
            (11, "n1 n2 n3 n4 n5 n6 n7 n8 n9"),  # fully novel
            (12, "tiny"),               # sub-k
        ],
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel_grams"], r["novelty_ppm"])
        for r in SI.gram_novelty_against_store(spark, path, batch).collect()
    }
    assert got[1] == got[10]
    assert got[1][1] == 0 and got[1][2] == 0 and got[1][0] == 3
    assert got[11] == (2, 2, 1000000)
    assert got[12] == (0, 0, 0)
    with pytest.raises(ValueError, match="built at k="):
        SI.gram_novelty_against_store(spark, path, batch, k=5)


def test_clean_and_fold_sequential_law_and_stores(spark, tmp_path):
    """The composed ingest step obeys the same prefix law the halves
    do, and maintains BOTH stores: after each step the cleaned store
    holds every batch's prefix-law output and the gram store holds
    every original gram."""
    b1 = _docs(spark, [(1, f"one two {_SHARED} three"),
                       (2, "totally unique text here nothing shared at all ok")])
    b2 = _docs(spark, [(10, f"{_SHARED} five six"),
                       (11, f"head {_SHARED} tail")])
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "clean")
    prefix, want = None, {}
    for b in (b1, b2):
        batch_ids = {r["doc_id"] for r in b.select("doc_id").collect()}
        cleaned = SI.clean_and_fold_batch(spark, idx, b, out)
        got = {r["doc_id"]: tuple(r)[1:] for r in cleaned.collect()}
        prefix = b if prefix is None else prefix.unionByName(b)
        exp = {r["doc_id"]: tuple(r)[1:]
               for r in D.remove_dup_spans(prefix).collect()
               if r["doc_id"] in batch_ids}
        assert got == exp
        want.update(exp)
    stored = {r["doc_id"]: tuple(r)[1:]
              for r in SI.cleaned_docs_store_read(spark, out).collect()}
    assert stored == want


def test_clean_and_fold_replay_and_torn_state(spark, tmp_path):
    """Replay-to-exactly-once across the composition: a full replay
    no-ops both stores; a torn state (cleaned rows written, gram fold
    missed) heals on replay without duplicating cleaned rows."""
    from tinyerp_etl_spark.etl.table_store import TableStore

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "clean")
    b1 = _docs(spark, [(1, f"one two {_SHARED} three")])
    b2 = _docs(spark, [(10, f"{_SHARED} five six"), (11, "u1 u2 u3 u4 u5 u6 u7 u8")])
    SI.clean_and_fold_batch(spark, idx, b1, out)
    gram_v = SI.span_gram_store(spark, idx).current_version()
    out_v = TableStore(spark, out, SI.cleaned_docs_schema()).current_version()
    # full replay: both stores keep their versions, nothing duplicates
    replay = SI.clean_and_fold_batch(spark, idx, b1, out)
    assert replay.count() == 0
    assert SI.span_gram_store(spark, idx).current_version() == gram_v
    assert TableStore(spark, out, SI.cleaned_docs_schema()).current_version() == out_v
    # torn state: b2's CLEANED rows land but the gram fold "crashed"
    cleaned_b2 = SI.clean_batch_against_store(spark, idx, b2)
    out_store = TableStore(spark, out, SI.cleaned_docs_schema())
    out_store.commit_append(cleaned_b2, expected_version=out_v)
    # the replayed step re-cleans (gram store unchanged => same rows),
    # the cleaned fold drops the duplicates, the gram fold completes
    SI.clean_and_fold_batch(spark, idx, b2, out)
    rows = SI.cleaned_docs_store_read(spark, out).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [1, 10, 11]  # no duplicate cleaned rows
    gram_ids = {r["doc_id"] for r in SI.span_gram_store(spark, idx)
                .read().select("doc_id").distinct().collect()}
    assert gram_ids == {1, 10, 11}


def test_stream_clean_and_fold_matches_batch(spark, tmp_path, sf_dir):
    """Draining the composed sink over a stream equals the batch-mode
    sequential run, and a second drain of the same source no-ops."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(40)
    src = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "clean")
    SI.run_stream_clean_and_fold(spark, stream, idx, out, str(tmp_path / "ck"))
    got = sorted(tuple(r) for r in SI.cleaned_docs_store_read(spark, out).collect())
    # batch mode over the same docs in one step (availableNow drained
    # the backlog as one micro-batch)
    idx2, out2 = str(tmp_path / "idx2"), str(tmp_path / "clean2")
    SI.clean_and_fold_batch(spark, idx2, docs, out2)
    want = sorted(tuple(r) for r in SI.cleaned_docs_store_read(spark, out2).collect())
    assert got == want
    v = SI.span_gram_store(spark, idx).current_version()
    rerun = spark.readStream.schema("doc_id long, text string").parquet(src)
    SI.run_stream_clean_and_fold(spark, rerun, idx, out, str(tmp_path / "ck2"))
    assert SI.span_gram_store(spark, idx).current_version() == v


def test_novelty_plan_is_store_shuffle_free(spark, tmp_path):
    """The novelty probe touches the store the way clean does: one
    column-pruned scan met by broadcast gram_key joins — never a
    sort-merge that would shuffle history — and no lint findings."""
    from tinyerp_etl_spark.operators.planlint import plan_findings

    path = str(tmp_path / "span")
    SI.update_span_index(spark, path, _docs(spark, [(1, f"a {_SHARED} b")]))
    out = SI.gram_novelty_against_store(
        spark, path, _docs(spark, [(10, f"{_SHARED} c")])
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin [gram_key" not in plan
    assert "BroadcastHashJoin [gram_key" in plan
    assert plan_findings(out) == []


def test_clean_and_fold_under_reliable_materialize(spark, tmp_path):
    """The composed loop's materialize seams (the replay pre-filter,
    clean's gram frame, the cleaned rows, the fold's prematerialized
    survivors) all route through the reliable checkpoint strategy on
    a cluster — flipping the switch must change durability only,
    never rows (the materialize contract, pinned end-to-end through
    the loop's multi-store composition)."""
    from tinyerp_etl_spark.functions.materialize import RELIABLE_CONF

    b1 = _docs(spark, [(1, f"one two {_SHARED} three")])
    b2 = _docs(spark, [(10, f"{_SHARED} five six"), (11, "u1 u2 u3 u4 u5 u6 u7 u8")])
    run_rows = []
    for mode in ("local", "reliable"):
        idx = str(tmp_path / f"idx_{mode}")
        out = str(tmp_path / f"clean_{mode}")
        if mode == "reliable":
            spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
            spark.conf.set(RELIABLE_CONF, "true")
        try:
            for b in (b1, b2):
                SI.clean_and_fold_batch(spark, idx, b, out)
            run_rows.append(sorted(
                tuple(r)
                for r in SI.cleaned_docs_store_read(spark, out).collect()
            ))
        finally:
            if mode == "reliable":
                spark.conf.unset(RELIABLE_CONF)
    assert run_rows[0] == run_rows[1]
    assert len(run_rows[0]) == 3


def test_fold_rows_derived_from_clean_pg_match_direct_build(spark, tmp_path):
    """Optimization round 14: the composed loop tokenizes the batch
    ONCE — the gram store folded via the pg-derived rows must hold
    exactly what build_span_gram_rows over the same batch holds
    (gram_key, doc_id, first-occurrence pos, k), including a doc that
    repeats its own gram (min-pos tie to the first occurrence)."""
    b = _docs(
        spark,
        [
            (1, f"one two {_SHARED} three {_SHARED} tail"),
            (2, "totally unique text here nothing shared at all ok"),
            (3, "short"),  # sub-k: contributes no gram rows
        ],
    )
    idx = str(tmp_path / "idx")
    SI.clean_and_fold_batch(spark, idx, b)
    stored = sorted(
        tuple(r)
        for r in SI.span_gram_store(spark, idx)
        .read()
        .select("gram_key", "doc_id", "pos", "k")
        .collect()
    )
    direct = sorted(
        tuple(r) for r in SI.build_span_gram_rows(b).collect()
    )
    assert stored == direct


def test_prebuilt_fold_rows_enforce_first_occurrence(spark, tmp_path):
    """ADVICE r14 / optimization round 15: update_span_index must
    STRUCTURALLY collapse a prebuilt frame to per-(gram, doc)
    first-occurrence rows — a caller passing raw keyed_positional_rows
    (one row per OCCURRENCE) can no longer silently fold duplicate
    (gram_key, doc_id) rows into the store."""
    b = _docs(spark, [(1, f"one two {_SHARED} three {_SHARED} tail")])
    idx = str(tmp_path / "idx")
    raw = SI.keyed_positional_rows(b)  # one row per occurrence
    SI.update_span_index(spark, idx, b, prebuilt_gram_rows=raw)
    stored = sorted(
        tuple(r)
        for r in SI.span_gram_store(spark, idx)
        .read()
        .select("gram_key", "doc_id", "pos", "k")
        .collect()
    )
    direct = sorted(tuple(r) for r in SI.build_span_gram_rows(b).collect())
    assert stored == direct  # collapsed, min-pos, k-stamped
