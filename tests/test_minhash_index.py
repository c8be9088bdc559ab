"""Persisted MinHash feature index: fold ≡ rebuild, the replay
contract, batch-vs-store correctness, cap enforcement, the streaming
fold, and the store-shuffle-free plan shape."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tinyerp_etl_spark.operators import minhash_index as M
from tinyerp_etl_spark.operators.dedup import DEFAULT_BUCKET_CAP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(spark, n=12, offset=0):
    rows = [
        (
            i + offset,
            " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)) + f" tail{i}",
        )
        for i in range(n)
    ]
    return _docs(spark, rows)


def _rows(df):
    return sorted(
        (r["doc_id"], tuple(r["sh"]), tuple(r["sig"]), tuple(r["band_keys"]))
        for r in df.collect()
    )


def test_save_load_roundtrip(spark, tmp_path):
    docs = _corpus(spark)
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, docs)
    stored = M.minhash_feature_store(spark, path).read()
    assert _rows(stored) == _rows(M.build_minhash_features(docs))


def test_fold_equals_rebuild(spark, tmp_path):
    """Append half the corpus, fold the other half in — the store must
    equal a fresh full build row for row (features are per-doc facts,
    but the law pins the fold plumbing end to end)."""
    docs = _corpus(spark, n=14)
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, docs.filter("doc_id % 2 = 0"))
    v0 = M.minhash_feature_store(spark, path).current_version()
    v = M.update_minhash_index(spark, path, docs.filter("doc_id % 2 = 1"))
    assert v == v0 + 1  # one appended version, not a rewrite
    stored = M.minhash_feature_store(spark, path).read()
    assert _rows(stored) == _rows(M.build_minhash_features(docs))


def test_overlap_raise_and_replay_noop(spark, tmp_path):
    docs = _corpus(spark, n=8)
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, docs)
    with pytest.raises(ValueError, match="already indexed"):
        M.update_minhash_index(spark, path, docs.filter("doc_id < 3"))
    # at-least-once replay folds to exactly-once: full replay is a
    # version-preserving no-op
    store = M.minhash_feature_store(spark, path)
    before = store.current_version()
    v = M.update_minhash_index(
        spark, path, docs.filter("doc_id < 3"), on_overlap="skip_existing"
    )
    assert v == before
    # partial replay folds only the new docs
    mixed = docs.filter("doc_id < 2").unionByName(
        _corpus(spark, n=2, offset=100)
    )
    v2 = M.update_minhash_index(spark, path, mixed, on_overlap="skip_existing")
    assert v2 == before + 1
    got = {r["doc_id"] for r in store.read().select("doc_id").collect()}
    assert got == set(range(8)) | {100, 101}


def test_short_doc_batch_is_noop(spark, tmp_path):
    """Docs below SHINGLE_K tokens are not indexable (no shingles) —
    a batch of only such docs must leave the version unchanged."""
    docs = _corpus(spark, n=4)
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, docs)
    before = M.minhash_feature_store(spark, path).current_version()
    v = M.update_minhash_index(spark, path, _docs(spark, [(900, "one two")]))
    assert v == before


def test_neardup_against_store_exact_and_clean(spark, tmp_path):
    """An exact copy in the batch scores jaccard 1.0 against its store
    original; an unrelated doc produces no pair."""
    store_docs = _corpus(spark, n=6)
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, store_docs)
    copy_text = store_docs.filter("doc_id = 2").first()["text"]
    batch = _docs(
        spark,
        [(500, copy_text), (501, "totally unrelated words nothing shared here at all")],
    )
    got = [
        (r["store_doc"], r["batch_doc"], r["jaccard"])
        for r in M.neardup_against_store(spark, path, batch, threshold=0.5)
        .orderBy("store_doc", "batch_doc")
        .collect()
    ]
    assert (2, 500, 1.0) in got
    assert all(b != 501 for _, b, _ in got)


def test_bucket_cap_quarantines_flooded_keys(spark, tmp_path):
    """A band key shared by more store docs than the cap must emit NO
    pairs (the executor-OOM shape _capped_bucket_pairs exists for)."""
    flood_text = "alpha beta gamma delta epsilon zeta eta theta"
    store_docs = _docs(spark, [(i, flood_text) for i in range(5)])
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, store_docs)
    batch = _docs(spark, [(700, flood_text)])
    assert (
        M.neardup_against_store(spark, path, batch, bucket_cap=4).isEmpty()
    )
    # under a generous cap the same probe matches all five
    got = M.neardup_against_store(
        spark, path, batch, bucket_cap=DEFAULT_BUCKET_CAP
    )
    assert got.count() == 5


def test_query_plan_is_store_shuffle_free(spark, tmp_path):
    """The candidate join must broadcast the BATCH side and probe the
    store scan — never sort-merge (which would shuffle the corpus) and
    never a cartesian expansion — and the store parquet must be read
    at most twice (the narrow key-size pass + the wide verify pass;
    the first cut re-derived the wide join for the cap count, paying
    the heavy shingle scan double)."""
    from tinyerp_etl_spark.operators.planlint import plan_findings

    M.save_minhash_index(spark, str(tmp_path / "mh"), _corpus(spark, n=10))
    out = M.neardup_against_store(
        spark, str(tmp_path / "mh"), _corpus(spark, n=3, offset=50)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 2
    assert plan_findings(out) == []


def test_bootstrap_rides_occ(spark, tmp_path):
    """Two writers racing to CREATE the index must not last-writer-win
    (the second v1 would silently shadow the first batch's rows): the
    bootstrap commit carries expected_version=0, so a store that
    advanced between the look and the commit raises for retry."""
    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError

    path = str(tmp_path / "mh")
    a = _corpus(spark, n=4)
    b = _corpus(spark, n=4, offset=50)
    # writer A looked at the empty store... then writer B committed
    M.save_minhash_index(spark, path, b)
    # ...A's bootstrap commit must now refuse, not shadow B
    store = M.minhash_feature_store(spark, path)
    feats_a = M.build_minhash_features(a)
    with pytest.raises(ConcurrentWriteError):
        store.commit(feats_a, n_files=M.FEATURE_FILES, expected_version=0)
    # the streaming-contract path retries through update(): folds fine
    v = M.update_minhash_index(spark, path, a, on_overlap="skip_existing")
    assert v == 2
    got = {r["doc_id"] for r in store.read().select("doc_id").collect()}
    assert got == set(range(4)) | set(range(50, 54))


_WORDS = [f"w{i}" for i in range(12)]
_DOC_TEXT = st.lists(
    st.sampled_from(_WORDS), min_size=0, max_size=10
).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_DOC_TEXT, min_size=1, max_size=14),
    st.lists(st.integers(min_value=0, max_value=2), min_size=14, max_size=14),
)
def test_fold_sequence_equals_one_shot_build(spark, texts, assign):
    """The fold law, property form: ANY partition of a corpus into
    sequential batches (short docs, empty batches, immediate replays
    included) must land exactly the feature rows of a one-shot build
    over the union — and every replay must preserve the version."""
    import shutil
    import tempfile

    docs = [(i, t) for i, t in enumerate(texts)]
    batches = [
        [d for d, a in zip(docs, assign) if a == b] for b in range(3)
    ]
    root = tempfile.mkdtemp(prefix="mh_prop_")
    try:
        path = root + "/mh"
        store = M.minhash_feature_store(spark, path)
        for b in batches:
            bdf = _docs(spark, b) if b else spark.createDataFrame(
                [], "doc_id long, text string"
            )
            v = M.update_minhash_index(
                spark, path, bdf, on_overlap="skip_existing"
            )
            # immediate full replay: version-preserving no-op
            assert (
                M.update_minhash_index(
                    spark, path, bdf, on_overlap="skip_existing"
                )
                == v
            )
        expected = _rows(M.build_minhash_features(_docs(spark, docs)))
        if store.current_version() == 0:
            assert expected == []  # nothing was ever indexable
        else:
            assert _rows(store.read()) == expected
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_bootstrap_creates_nothing(spark, tmp_path):
    """An all-short first batch must NOT create a spurious empty v1."""
    path = str(tmp_path / "mh")
    v = M.update_minhash_index(spark, path, _docs(spark, [(1, "hi there")]))
    assert v == 0
    assert M.minhash_feature_store(spark, path).current_version() == 0


def test_stream_fold_equals_batch_build(spark, tmp_path):
    """Two drained micro-batches must land the exact feature rows a
    one-shot build over the union produces, and a replayed batch must
    be absorbed (exactly-once index from at-least-once delivery)."""
    import os

    from tinyerp_etl_spark.streaming.stream_pipeline import (
        run_stream_to_minhash_index,
    )

    docs = _corpus(spark, n=10)
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs.filter("doc_id < 5").write.mode("overwrite").parquet(src + "/b0")
    path = str(tmp_path / "mh")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        run_stream_to_minhash_index(spark, stream, path, ckpt)

    drain()
    docs.filter("doc_id >= 5").write.mode("overwrite").parquet(src + "/b1")
    drain()
    stored = M.minhash_feature_store(spark, path).read()
    assert _rows(stored) == _rows(M.build_minhash_features(docs))
    # replay: drain from a FRESH checkpoint so every file re-delivers;
    # skip_existing must fold it all to a no-op
    before = M.minhash_feature_store(spark, path).current_version()
    ckpt2 = str(tmp_path / "ckpt2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    run_stream_to_minhash_index(spark, stream, path, ckpt2)
    assert M.minhash_feature_store(spark, path).current_version() == before
    assert _rows(M.minhash_feature_store(spark, path).read()) == _rows(
        M.build_minhash_features(docs)
    )


def test_bucket_cap_counts_batch_side_too(spark, tmp_path):
    """The cap bounds TOTAL bucket membership (store + batch), the
    _capped_bucket_pairs contract: a batch-side flooded key must not
    bypass a cap the store side alone would clear — the candidate
    join otherwise blows up as store_matches × batch_matches."""
    flood_text = "alpha beta gamma delta epsilon zeta eta theta"
    path = str(tmp_path / "mh")
    M.save_minhash_index(spark, path, _docs(spark, [(0, flood_text), (1, flood_text)]))
    batch = _docs(spark, [(700 + i, flood_text) for i in range(4)])
    # store-side count (2) clears cap=5; total (2+4=6) must not
    assert M.neardup_against_store(spark, path, batch, bucket_cap=5).isEmpty()
    got = M.neardup_against_store(
        spark, path, batch, bucket_cap=DEFAULT_BUCKET_CAP
    )
    assert got.count() == 8  # 2 store × 4 batch exact copies
