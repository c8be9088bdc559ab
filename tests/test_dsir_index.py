"""Persisted DSIR model store: fold law + replay/ordering contracts.

The gate row (incremental_dsir_sample) hash-proves folded ≡ one-shot
against the one-shot SQL oracle; these pin the store's guard rails —
the watermark replay filter, the feature-space check, and the no-op
edges — the oracle cannot reach.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tinyerp_etl_spark.operators.dsir_index import (
    DsirOverlapError,
    build_dsir_model_rows,
    dsir_model_store,
    dsir_scores_against_store,
    read_dsir_model,
    update_dsir_model,
)
from tinyerp_etl_spark.operators.sampling import dsir_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_POOL = [
    (1, "apple banana cherry snack"),
    (2, "banana cherry apple tart"),
    (3, "fruit salad apple banana"),
    (4, "iron copper zinc smelter"),
    (5, "copper zinc iron ingot"),
    (6, "tungsten cobalt nickel ore"),
]
_TARGET = [
    (100, "apple banana cherry apple banana"),
    (101, "banana cherry apple fruit salad"),
]


def test_folded_model_scores_equal_one_shot(spark, tmp_path):
    path = str(tmp_path / "m1")
    pool, target = _docs(spark, _POOL), _docs(spark, _TARGET)
    update_dsir_model(spark, path, pool.filter(F.col("doc_id") <= 3))
    update_dsir_model(spark, path, pool.filter(F.col("doc_id") > 3))
    got = sorted(
        map(tuple, dsir_scores_against_store(spark, path, pool, target).collect())
    )
    want = sorted(map(tuple, dsir_scores(pool, target).collect()))
    assert got == want


def test_replay_raises_and_skip_absorbs_exact_redelivery(spark, tmp_path):
    path = str(tmp_path / "m2")
    pool = _docs(spark, _POOL)
    b1 = pool.filter(F.col("doc_id") <= 3)
    v1 = update_dsir_model(spark, path, b1)
    with pytest.raises(ValueError, match="overlaps the folded history"):
        update_dsir_model(spark, path, b1)
    # EXACT redelivery under skip_existing is a version-preserving
    # no-op (same span, same bucket vector)
    assert update_dsir_model(spark, path, b1, on_overlap="skip_existing") == v1
    assert dsir_model_store(spark, path).current_version() == v1
    # anything overlapping history that is NOT an exact redelivery
    # raises in BOTH modes: counts cannot separate out-of-order new
    # mass from a partial replay (silently dropping doc 4-6 here, or
    # double-counting doc 3, would each corrupt the model)
    torn = pool.filter(F.col("doc_id") >= 3)
    with pytest.raises(ValueError, match="not an exact redelivery"):
        update_dsir_model(spark, path, torn, on_overlap="skip_existing")
    with pytest.raises(ValueError, match="overlaps the folded history"):
        update_dsir_model(spark, path, torn)
    # the genuinely-new suffix, properly re-identified, folds fine
    update_dsir_model(spark, path, pool.filter(F.col("doc_id") > 3))
    clean = str(tmp_path / "m2clean")
    update_dsir_model(spark, clean, _docs(spark, _POOL))
    got = sorted(map(tuple, read_dsir_model(spark, path).collect()))
    want = sorted(map(tuple, read_dsir_model(spark, clean).collect()))
    assert got == want


def test_overlap_exception_type_contract(spark, tmp_path):
    """The overlap raise is the DEDICATED DsirOverlapError (a
    ValueError subclass — the historical contract holds) while a
    feature-space contract error is a plain ValueError: the two-fold
    init-race retry (_dsir_store_for) catches only the former, so a
    genuine contract bug surfaces directly instead of through a
    confusing second failure from a pointless skip_existing retry."""
    path = str(tmp_path / "m5")
    pool = _docs(spark, _POOL)
    update_dsir_model(spark, path, pool)
    with pytest.raises(DsirOverlapError):
        update_dsir_model(spark, path, pool.filter(F.col("doc_id") <= 3))
    try:
        update_dsir_model(
            spark, path, _docs(spark, [(99, "new doc text")]), n_buckets=64
        )
    except ValueError as e:
        assert not isinstance(e, DsirOverlapError)
    else:  # pragma: no cover - the mismatch must raise
        raise AssertionError("n_buckets mismatch did not raise")


def test_bucket_mismatch_refused(spark, tmp_path):
    path = str(tmp_path / "m3")
    pool = _docs(spark, _POOL)
    update_dsir_model(spark, path, pool, n_buckets=64)
    with pytest.raises(ValueError, match="n_buckets=64"):
        read_dsir_model(spark, path, n_buckets=128)
    with pytest.raises(ValueError, match="n_buckets=64"):
        update_dsir_model(
            spark, path, _docs(spark, [(99, "new doc text")]), n_buckets=128
        )


def test_sub_gram_batches_are_noops(spark, tmp_path):
    path = str(tmp_path / "m4")
    empty = _docs(spark, [(1, ""), (2, "")])
    # absent store: no spurious empty artifact
    assert update_dsir_model(spark, path, empty) == 0
    assert dsir_model_store(spark, path).current_version() == 0
    v = update_dsir_model(spark, path, _docs(spark, _POOL))
    # existing store: version preserved (doc_ids 1,2 predate the max,
    # but hold no grams — invisible to the model, not an order breach)
    assert update_dsir_model(spark, path, empty) == v


def test_model_rows_carry_gram_holding_span_only(spark):
    rows = build_dsir_model_rows(
        _docs(spark, [(7, ""), (8, "alpha beta"), (9, "")])
    ).collect()
    assert rows and all(
        r["lo_doc_id"] == 8 and r["hi_doc_id"] == 8 for r in rows
    )


def test_streaming_fold_matches_batch(spark, tmp_path, sf_dir):
    """Drain the documents table as a stream into the model; the
    folded counts must equal a one-shot batch fold, and a replayed
    drain must be a version-preserving no-op (exact-redelivery
    absorption — the redelivered micro-batch is byte-identical)."""
    from tinyerp_etl_spark.operators.dsir_index import (
        run_stream_to_dsir_model,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.limit(40).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    path = str(tmp_path / "model")
    run_stream_to_dsir_model(spark, stream, path, str(tmp_path / "ckpt"))
    batch_path = str(tmp_path / "model_batch")
    # fold what was actually WRITTEN (a re-evaluated limit(40) is not
    # guaranteed to pick the same rows)
    update_dsir_model(spark, batch_path, spark.read.parquet(src))
    model = lambda p: sorted(
        map(tuple, read_dsir_model(spark, p).collect())
    )
    assert model(path) == model(batch_path)
    v = dsir_model_store(spark, path).current_version()
    rerun = spark.readStream.schema("doc_id long, text string").parquet(src)
    run_stream_to_dsir_model(spark, rerun, path, str(tmp_path / "ckpt2"))
    assert dsir_model_store(spark, path).current_version() == v


def test_fold_law_property(spark):
    """Folded ≡ one-shot under randomized corpora: partition random
    docs (colliding vocab, empty docs, sub-bigram docs) into
    ingest-ordered batches, fold them sequentially, and the scored
    output against the store model must equal one-shot dsir_scores
    over the whole pool — the additive-counts law the gate row proves
    at one split, checked here across random splits."""
    import shutil
    import tempfile

    from hypothesis import given, settings, strategies as st

    words = [f"w{i}" for i in range(6)]
    doc = st.lists(st.sampled_from(words), min_size=0, max_size=8).map(
        " ".join
    )

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(doc, min_size=2, max_size=10),
        st.lists(
            st.integers(min_value=0, max_value=2), min_size=10, max_size=10
        ),
    )
    def run(texts, cut):
        target = _docs(spark, _TARGET)
        docs = [(i, t) for i, t in enumerate(texts)]
        batches = [
            [d for d, c in zip(docs, cut) if c == b] for b in range(3)
        ]
        # re-id so batch b's ids follow batch b-1's (the ingest-order
        # contract); the pool is the same multiset of texts either way
        seq, nid, reid_pool = [], 0, []
        for b in batches:
            out = []
            for _, t in b:
                out.append((nid, t))
                nid += 1
            seq.append(out)
            reid_pool.extend(out)
        if not any(len(t.split()) >= 1 for _, t in reid_pool):
            return  # all-empty pool: nothing to score either way
        root = tempfile.mkdtemp(prefix="dsir_prop_")
        try:
            path = root + "/model"
            for rows in seq:
                if rows:
                    update_dsir_model(spark, path, _docs(spark, rows))
            pool = _docs(spark, reid_pool)
            got = sorted(
                map(
                    tuple,
                    dsir_scores_against_store(
                        spark, path, pool, target
                    ).collect(),
                )
            )
            want = sorted(map(tuple, dsir_scores(pool, target).collect()))
            assert got == want
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_two_fold_init_completes_half_initialized_store(spark, tmp_path):
    """A builder that crashed between fold 1 and fold 2 leaves a
    versioned-but-half store; the shared bootstrap must detect it by
    WATERMARK (not version presence), complete the missing half
    idempotently, and no-op on an already-complete store."""
    from tinyerp_etl_spark.plans.llm_ops import _dsir_two_fold_init

    path = str(tmp_path / "m6")
    pool = _docs(spark, _POOL)  # ids 1..6 -> thr = 3, same split
    update_dsir_model(spark, path, pool.filter(F.col("doc_id") <= 3))
    _dsir_two_fold_init(spark, path, pool)  # must land the 4..6 half
    clean = str(tmp_path / "m6c")
    update_dsir_model(spark, clean, pool)
    got = sorted(map(tuple, read_dsir_model(spark, path).collect()))
    want = sorted(map(tuple, read_dsir_model(spark, clean).collect()))
    assert got == want
    v = dsir_model_store(spark, path).current_version()
    _dsir_two_fold_init(spark, path, pool)  # complete store: no-op
    assert dsir_model_store(spark, path).current_version() == v
