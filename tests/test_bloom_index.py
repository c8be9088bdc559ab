"""Persisted Bloom bitmap: roundtrip, fold==rebuild, replay no-op,
parameter-mismatch refusal, and the streaming ingest fold."""

from __future__ import annotations

import os

from tinyerp_etl_spark.operators.bloom_index import (
    bitmap_store,
    load_bloom_bitmap,
    run_stream_to_bloom_bitmap,
    save_bloom_bitmap,
    update_bloom_bitmap,
)
from tinyerp_etl_spark.operators.sketch import bloom_build


def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "key string")


def _as_map(df):
    return {r["word_idx"]: r["mask"] for r in df.collect()}


def test_bloom_bitmap_roundtrip_and_param_mismatch(spark, tmp_path):
    path = str(tmp_path / "bloom")
    keys = _keys(spark, [f"k{i}" for i in range(40)])
    bitmap = bloom_build(keys, "key")
    save_bloom_bitmap(spark, path, bitmap)
    loaded = load_bloom_bitmap(spark, path)
    assert loaded is not None and _as_map(loaded) == _as_map(bitmap)
    # a different hash family must refuse to load, not probe garbage
    assert load_bloom_bitmap(spark, path, k=3) is None
    assert load_bloom_bitmap(spark, path, m_bits=1 << 12) is None


def test_bloom_update_fold_equals_rebuild_and_replay_preserves_version(
    spark, tmp_path
):
    path = str(tmp_path / "bloom")
    b1 = [f"a{i}" for i in range(30)]
    b2 = [f"b{i}" for i in range(20)]
    update_bloom_bitmap(spark, path, _keys(spark, b1))
    v1 = bitmap_store(spark, path).current_version()
    update_bloom_bitmap(spark, path, _keys(spark, b2))
    v2 = bitmap_store(spark, path).current_version()
    assert v2 == v1 + 1
    folded = load_bloom_bitmap(spark, path)
    rebuilt = bloom_build(_keys(spark, b1 + b2), "key")
    assert _as_map(folded) == _as_map(rebuilt)
    # replaying batch 2 sets no new bit: version-preserving no-op
    v3 = update_bloom_bitmap(spark, path, _keys(spark, b2))
    assert v3 == v2
    assert bitmap_store(spark, path).current_version() == v2
    assert _as_map(load_bloom_bitmap(spark, path)) == _as_map(rebuilt)


def test_stream_fold_equals_offline_build(spark, tmp_path):
    names = [f"ref{i}" for i in range(60)]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # two files -> two micro-batches under maxFilesPerTrigger=1
    _keys(spark, names[:30]).coalesce(1).write.parquet(src + "/p0")
    _keys(spark, names[30:]).coalesce(1).write.parquet(src + "/p1")
    import shutil

    for i in range(2):
        for f in os.listdir(f"{src}/p{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{src}/p{i}/{f}", f"{src}/batch{i}.parquet")
        shutil.rmtree(f"{src}/p{i}")

    path = str(tmp_path / "bloom_stream")
    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_bloom_bitmap(spark, stream, path, str(tmp_path / "ckpt_a"))
    got = load_bloom_bitmap(spark, path)
    want = bloom_build(_keys(spark, names), "key")
    assert _as_map(got) == _as_map(want)

    # full replay from a fresh checkpoint: every batch redelivers,
    # every fold is a no-op, the version does not move
    v = bitmap_store(spark, path).current_version()
    replay = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_bloom_bitmap(spark, replay, path, str(tmp_path / "ckpt_b"))
    assert bitmap_store(spark, path).current_version() == v
    assert _as_map(load_bloom_bitmap(spark, path)) == _as_map(want)


def test_bloom_update_refuses_mismatched_hash_family(spark, tmp_path):
    path = str(tmp_path / "bloom")
    update_bloom_bitmap(spark, path, _keys(spark, ["a", "b"]))
    before = _as_map(load_bloom_bitmap(spark, path))
    # folding under a different k must raise, never silently rebuild a
    # bitmap containing only the new batch (Bloom false negatives)
    import pytest

    with pytest.raises(ValueError, match="different m/k"):
        update_bloom_bitmap(spark, path, _keys(spark, ["c"]), k=3)
    assert _as_map(load_bloom_bitmap(spark, path)) == before


def test_stream_fold_retries_on_concurrent_write(spark, tmp_path, monkeypatch):
    """A concurrent writer advancing the bitmap between a fold's read
    and commit must trigger a RECOMPUTE-and-retry (bit_or idempotence
    makes the refold exact), not fail the stream — the same OCC loop
    the BM25 stream fold carries."""
    import shutil

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError
    from tinyerp_etl_spark.operators import bloom_index as BI

    names = [f"occ{i}" for i in range(20)]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _keys(spark, names).coalesce(1).write.parquet(src + "/p0")
    for f in os.listdir(f"{src}/p0"):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/p0/{f}", f"{src}/batch0.parquet")
    shutil.rmtree(f"{src}/p0")

    real = BI.update_bloom_bitmap
    calls = {"n": 0}

    def racy(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConcurrentWriteError("simulated concurrent fold")
        return real(*args, **kwargs)

    monkeypatch.setattr(BI, "update_bloom_bitmap", racy)
    path = str(tmp_path / "bloom_occ")
    stream = spark.readStream.schema("key string").parquet(src)
    BI.run_stream_to_bloom_bitmap(spark, stream, path, str(tmp_path / "ckpt"))
    assert calls["n"] == 2  # first attempt raced, retry landed
    want = bloom_build(_keys(spark, names), "key")
    assert _as_map(load_bloom_bitmap(spark, path)) == _as_map(want)


def test_stream_fold_exhausted_retries_surface(spark, tmp_path, monkeypatch):
    import shutil

    import pytest

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError
    from tinyerp_etl_spark.operators import bloom_index as BI

    src = str(tmp_path / "src2")
    os.makedirs(src, exist_ok=True)
    _keys(spark, ["x", "y"]).coalesce(1).write.parquet(src + "/p0")
    for f in os.listdir(f"{src}/p0"):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/p0/{f}", f"{src}/b.parquet")
    shutil.rmtree(f"{src}/p0")

    def always_racy(*args, **kwargs):
        raise ConcurrentWriteError("always racing")

    monkeypatch.setattr(BI, "update_bloom_bitmap", always_racy)
    stream = spark.readStream.schema("key string").parquet(src)
    with pytest.raises(Exception, match="always racing"):
        BI.run_stream_to_bloom_bitmap(
            spark, stream, str(tmp_path / "bloom_x"), str(tmp_path / "ckpt2")
        )
