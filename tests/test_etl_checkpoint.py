"""Page-checkpoint resume semantics (ref :183-223)."""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from tinyerp_etl_spark.etl import checkpoint
from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)


def test_fresh_start_is_page_one(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    assert cp.start("produtos", "01/08/2026 00:00:00") == 1


def test_resume_after_interrupt_same_filter(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=3, total_pages=10, n_records=150)
    # crash here: status stays EM_ANDAMENTO → resume at 4
    assert cp.start("produtos", "01/08/2026 00:00:00") == 4


def test_resume_after_error_same_filter(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("pedidos", "01/08/2026 00:00:00")
    cp.advance("pedidos", page=7, total_pages=9, n_records=10)
    cp.finish("pedidos", STATUS_ERROR)
    assert cp.start("pedidos", "01/08/2026 00:00:00") == 8


def test_filter_change_restarts(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=5, total_pages=10, n_records=100)
    assert cp.start("produtos", "02/08/2026 00:00:00") == 1


def test_completed_run_restarts(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", page=10, total_pages=10, n_records=100)
    cp.finish("produtos", STATUS_DONE)
    assert cp.start("produtos", "01/08/2026 00:00:00") == 1


def test_running_counter_accumulates(spark, tmp_path):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("estoques", "01/08/2026 00:00:00")
    cp.advance("estoques", 1, 4, 100)
    cp.advance("estoques", 2, 4, 50)
    p = cp.progress("estoques")
    assert p.registros_processados == 150  # ref :208
    assert cp.percent_complete("estoques") == 50.0  # ref :211
    assert p.status_execucao == STATUS_RUNNING


def test_cycle_runs_no_spark_jobs(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("page-checkpoint", "control state runs no Spark job")
    try:
        cp = PageCheckpoint(spark, str(tmp_path / "store" / "cp"))
        assert cp.start("produtos", "01/08/2026 00:00:00") == 1
        cp.advance("produtos", 1, 2, 10)
        cp.advance("produtos", 2, 2, 5)
        cp.finish("produtos", STATUS_DONE)
        assert cp.progress("produtos").registros_processados == 15
        assert cp.percent_complete("produtos") == 100.0
        assert list(sc.statusTracker().getJobIdsForGroup("page-checkpoint")) == []
        spark.range(1).count()  # the probe itself sees jobs in the group
        assert list(sc.statusTracker().getJobIdsForGroup("page-checkpoint"))
    finally:
        sc.setJobGroup(None, None)


@pytest.mark.parametrize("crash", ["replace", "dump"])
def test_failed_write_leaves_previous_progress(spark, tmp_path, monkeypatch, crash):
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    cp.start("produtos", "01/08/2026 00:00:00")
    cp.advance("produtos", 3, 10, 150)
    before = cp.progress("produtos")

    def boom(*args, **kwargs):
        raise OSError("crash before the rename")

    if crash == "replace":
        monkeypatch.setattr(os, "replace", boom)
    else:
        monkeypatch.setattr(json, "dumps", boom)
    with pytest.raises(OSError, match="before the rename"):
        cp.advance("produtos", 4, 10, 50)
    with pytest.raises(OSError, match="before the rename"):
        cp.finish("produtos", STATUS_ERROR)
    monkeypatch.undo()
    assert cp.progress("produtos") == before
    assert os.listdir(tmp_path) == ["cp"]  # no temp file left behind
    # the interrupted run still resumes after the last committed page
    assert cp.start("produtos", "01/08/2026 00:00:00") == 4


def test_concurrent_updates_keep_every_process_row(spark, tmp_path, monkeypatch):
    """Threads updating different processes on one instance (concurrent
    sync steps): each update reads and replaces the whole document, so
    without the instance's lock a thread would write back a document
    missing another's row. The read sleeps to make the threads overlap."""
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    read_json = checkpoint.read_json

    def slow_read(path):
        got = read_json(path)
        time.sleep(0.02)
        return got

    def cycle(process):
        assert cp.start(process, "01/08/2026 00:00:00") == 1
        cp.advance(process, 1, 2, 10)
        cp.advance(process, 2, 2, 5)
        cp.finish(process, STATUS_DONE)

    monkeypatch.setattr(checkpoint, "read_json", slow_read)
    processes = [f"entity_{i}" for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(processes)) as pool:
            for fut in [pool.submit(cycle, p) for p in processes]:
                fut.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    monkeypatch.undo()
    for p in processes:
        got = cp.progress(p)
        assert (got.pagina_atual, got.registros_processados, got.status_execucao) == (
            2, 15, STATUS_DONE)
