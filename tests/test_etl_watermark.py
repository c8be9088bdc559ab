"""Watermark resolution chain (ref :160-181) + store round-trip."""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import pytest

from tinyerp_etl_spark.etl import watermark
from tinyerp_etl_spark.etl.watermark import (
    WatermarkStore,
    max_business_timestamp,
    resolve_filter_timestamp,
)

NOW = datetime(2026, 8, 13, 8, 0, 0, tzinfo=timezone.utc)


def test_stored_watermark_plus_one_second():
    wm = NOW - timedelta(days=3)
    got = resolve_filter_timestamp(stored=wm, max_business_ts=None, now=NOW)
    assert got == wm + timedelta(seconds=1)


def test_sixty_day_clamp():
    wm = NOW - timedelta(days=200)
    got = resolve_filter_timestamp(stored=wm, max_business_ts=None, now=NOW)
    assert got == NOW - timedelta(days=60)


def test_synthetic_bootstrap_from_max_date():
    mx = datetime(2026, 8, 1, 15, 30, 45, tzinfo=timezone.utc)
    got = resolve_filter_timestamp(stored=None, max_business_ts=mx, now=NOW)
    # day after max, at midnight UTC (ref :146-158, :172-177)
    assert got == datetime(2026, 8, 2, 0, 0, 0, tzinfo=timezone.utc)


def test_synthetic_bootstrap_clamped():
    mx = NOW - timedelta(days=300)
    got = resolve_filter_timestamp(stored=None, max_business_ts=mx, now=NOW)
    assert got == NOW - timedelta(days=60)


def test_cold_start_default_and_override():
    assert resolve_filter_timestamp(None, None, NOW) == NOW - timedelta(days=60)
    # stock-process fixed 29-day lookback (ref :330-331)
    assert resolve_filter_timestamp(
        None, None, NOW, cold_start_days=29
    ) == NOW - timedelta(days=29)


def test_store_roundtrip_and_upsert(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    assert store.get("produtos") is None
    t1 = datetime(2026, 8, 10, 8, 0, 0, tzinfo=timezone.utc)
    t2 = datetime(2026, 8, 12, 8, 0, 0, tzinfo=timezone.utc)
    store.commit("produtos", t1)
    store.commit("pedidos", t1)
    store.commit("produtos", t2)  # upsert overwrites
    assert store.get("produtos") == t2
    assert store.get("pedidos") == t1


def test_store_runs_no_spark_jobs(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("watermark-store", "control state runs no Spark job")
    try:
        store = WatermarkStore(spark, str(tmp_path / "wm"))
        store.get("produtos")
        store.commit("produtos", NOW)
        assert store.get("produtos") == NOW
        assert list(sc.statusTracker().getJobIdsForGroup("watermark-store")) == []
        spark.range(1).count()  # the probe itself sees jobs in the group
        assert list(sc.statusTracker().getJobIdsForGroup("watermark-store"))
    finally:
        sc.setJobGroup(None, None)


def test_store_microseconds_roundtrip_as_utc(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    ts = datetime(2026, 8, 10, 8, 0, 0, 123456, tzinfo=timezone.utc)
    store.commit("produtos", ts)
    # a non-UTC offset lands as the same instant in UTC
    store.commit("pedidos", ts.astimezone(timezone(timedelta(hours=-3))))
    for process in ("produtos", "pedidos"):
        got = store.get(process)
        assert got == ts
        assert got.utcoffset() == timedelta(0)
        assert got.microsecond == 123456


def test_failed_commit_leaves_previous_watermarks(spark, tmp_path, monkeypatch):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.commit("produtos", NOW)

    def boom(src, dst):
        raise OSError("crash before the rename")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="before the rename"):
        store.commit("produtos", NOW + timedelta(days=1))
    with pytest.raises(OSError, match="before the rename"):
        store.commit("pedidos", NOW)
    monkeypatch.undo()
    assert store.get("produtos") == NOW
    assert store.get("pedidos") is None
    assert os.listdir(tmp_path) == ["wm"]  # no temp file left behind


def test_concurrent_commits_keep_every_process_row(spark, tmp_path, monkeypatch):
    """Threads committing different processes on one instance (concurrent
    sync steps): a commit reads and replaces the whole document, so
    without the instance's lock a thread would write back a document
    missing another's watermark. The read sleeps to make the threads
    overlap."""
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    read_json = watermark.read_json

    def slow_read(path):
        got = read_json(path)
        time.sleep(0.02)
        return got

    monkeypatch.setattr(watermark, "read_json", slow_read)
    processes = {f"entity_{i}": NOW + timedelta(minutes=i) for i in range(8)}
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(processes)) as pool:
            futs = [pool.submit(store.commit, p, ts) for p, ts in processes.items()]
            for fut in futs:
                fut.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    monkeypatch.undo()
    assert {p: store.get(p) for p in processes} == processes


def test_old_parquet_store_dir_fails_loud(spark, tmp_path):
    # no fallback reader: a directory at the path is an error
    (tmp_path / "wm").mkdir()
    with pytest.raises(IsADirectoryError):
        WatermarkStore(spark, str(tmp_path / "wm")).get("produtos")


def test_max_business_timestamp_chronological_not_lexicographic(spark):
    # lexicographic MAX of dd/mm/yyyy text would pick 31/01/2024; the
    # chronological max is 01/12/2025 (the reference's latent bug,
    # deliberately fixed here — SURVEY.md §2 op 17)
    df = spark.createDataFrame(
        [("31/01/2024",), ("01/12/2025",), ("",), ("garbage",), (None,)],
        "d string",
    )
    got = max_business_timestamp(df, "d")
    assert got == datetime(2025, 12, 1, tzinfo=timezone.utc)
