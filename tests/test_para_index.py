"""Persisted paragraph index: fold==rebuild, replay preserves the
version, out-of-order guard propagates, streaming fold == offline."""

from __future__ import annotations

import os
import shutil

import pytest

from tinyerp_etl_spark.operators.dedup import build_paragraph_index
from tinyerp_etl_spark.operators.para_index import (
    fold_batch_into_paragraph_index,
    load_paragraph_index,
    para_store,
    run_stream_to_paragraph_index,
)

P1 = " ".join(f"a{i}" for i in range(8))
P2 = " ".join(f"b{i}" for i in range(8))
P3 = " ".join(f"c{i}" for i in range(8))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _as_set(df):
    return {(r["para"], r["first_doc"], r["first_pos"]) for r in df.collect()}


def test_fold_equals_rebuild_and_replay_preserves_version(spark, tmp_path):
    path = str(tmp_path / "pidx")
    b1 = [(1, P1 + " " + P2), (2, P2)]
    b2 = [(10, P2 + " " + P3), (11, P3)]
    fold_batch_into_paragraph_index(spark, path, _docs(spark, b1))
    v1 = para_store(spark, path).current_version()
    fold_batch_into_paragraph_index(spark, path, _docs(spark, b2))
    v2 = para_store(spark, path).current_version()
    assert v2 == v1 + 1
    folded = load_paragraph_index(spark, path)
    rebuilt = build_paragraph_index(_docs(spark, b1 + b2))
    assert _as_set(folded) == _as_set(rebuilt)
    # replay of batch 2: zero fresh paragraphs, version untouched
    v3 = fold_batch_into_paragraph_index(spark, path, _docs(spark, b2))
    assert v3 == v2
    assert para_store(spark, path).current_version() == v2


def test_empty_first_batch_creates_no_version(spark, tmp_path):
    """A first batch with no paragraphs leaves the store at version 0,
    the empty table; the next batch lands v1."""
    path = str(tmp_path / "pidx")
    assert fold_batch_into_paragraph_index(spark, path, _docs(spark, [])) == 0
    assert para_store(spark, path).current_version() == 0
    assert load_paragraph_index(spark, path) is None
    assert fold_batch_into_paragraph_index(spark, path, _docs(spark, [(1, P1)])) == 1
    assert _as_set(load_paragraph_index(spark, path)) == {(P1, 1, 0)}


def test_out_of_order_backfill_is_rejected_before_commit(spark, tmp_path):
    path = str(tmp_path / "pidx")
    fold_batch_into_paragraph_index(spark, path, _docs(spark, [(100, P1)]))
    v = para_store(spark, path).current_version()
    with pytest.raises(ValueError, match="PREDATES"):
        fold_batch_into_paragraph_index(spark, path, _docs(spark, [(5, P1)]))
    # the store is untouched by the rejected fold
    assert para_store(spark, path).current_version() == v
    assert _as_set(load_paragraph_index(spark, path)) == {(P1, 100, 0)}


def test_stream_fold_equals_offline_build(spark, tmp_path):
    rows = [(1, P1 + " " + P2), (2, P2), (10, P2 + " " + P3), (11, P3)]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, half in enumerate((rows[:2], rows[2:])):
        staging = str(tmp_path / f"h{i}")
        _docs(spark, half).coalesce(1).write.parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.copy(f"{staging}/{f}", f"{src}/batch{i}.parquet")

    path = str(tmp_path / "pidx_stream")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_paragraph_index(spark, stream, path, str(tmp_path / "ck_a"))
    got = load_paragraph_index(spark, path)
    want = build_paragraph_index(_docs(spark, rows))
    assert _as_set(got) == _as_set(want)

    # full replay from a fresh checkpoint: every fold no-ops
    v = para_store(spark, path).current_version()
    replay = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_paragraph_index(spark, replay, path, str(tmp_path / "ck_b"))
    assert para_store(spark, path).current_version() == v
    assert _as_set(load_paragraph_index(spark, path)) == _as_set(want)
