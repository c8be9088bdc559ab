"""widen_if_narrow: the scale-adaptive scan fan-out (round 14)."""

from __future__ import annotations

import os

import pytest

from tinyerp_etl_spark.sources.catalog import load_table, widen_if_narrow


def test_widens_small_scan_to_default_parallelism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = widen_if_narrow(docs, sf_dir)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # values unchanged (round-robin moves rows, never mutates them)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )


def test_noop_when_backing_file_is_wide(spark, sf_dir, monkeypatch):
    # a file big enough to yield >= defaultParallelism scan splits
    # must come back untouched — the cluster-scale branch adds no
    # exchange
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(
        os.path, "getsize", lambda _p: max_pb * cores
    )
    assert widen_if_narrow(docs, sf_dir) is docs


def test_noop_when_backing_file_is_missing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assert widen_if_narrow(docs, "/nonexistent/dir") is docs


def _write_parts_dir(spark, tmp_path, n_parts: int):
    """A real multi-part parquet directory (Spark's standard layout)."""
    path = str(tmp_path / "documents.parquet")
    spark.range(2000).selectExpr("id AS doc_id").repartition(
        n_parts
    ).write.mode("overwrite").parquet(path)
    return path


def test_widens_small_directory_backed_table(spark, tmp_path):
    # a directory of a few tiny part files is still a narrow scan: the
    # probe must sum the LEAF files (not take the dirent size as ~4KB
    # and not refuse because the path is not a plain file)
    path = _write_parts_dir(spark, tmp_path, n_parts=2)
    docs = spark.read.parquet(path)
    out = widen_if_narrow(docs, str(tmp_path))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )


def test_noop_when_directory_backed_table_is_wide(spark, tmp_path):
    # the real-scale branch: when the directory's summed part sizes
    # already yield >= defaultParallelism scan splits under the live
    # maxPartitionBytes, the frame comes back untouched — no exchange.
    # (getsize() on the directory itself would report ~4KB and widen,
    # the exact misclassification this test pins.)
    path = _write_parts_dir(spark, tmp_path, n_parts=4)
    docs = spark.read.parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the split size so this small dir is "wide" for real
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        assert widen_if_narrow(docs, str(tmp_path)) is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("max_pb", ["128mb", "1t"])
def test_byte_suffixed_max_partition_bytes(spark, tmp_path, max_pb):
    # the split size goes through Spark's own byte-string parser, so
    # every suffix Spark accepts works ("1t" once reached int() and
    # raised); either size leaves this small dir narrow, so it widens
    path = _write_parts_dir(spark, tmp_path, n_parts=2)
    docs = spark.read.parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_pb)
        out = widen_if_narrow(docs, str(tmp_path))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert out is not docs
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
