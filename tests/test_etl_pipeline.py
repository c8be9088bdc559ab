"""End-to-end incremental sync: paged source → MERGE → watermark/checkpoint.

Drives run_entity_sync the way the reference's main drives
executar_etapa_paginada, with the events test table as the upstream
system and a page source that serves it in date-filtered pages.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)
from tinyerp_etl_spark.etl.pipeline import EntitySync, run_entity_sync, run_pipeline
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import WatermarkStore
from tinyerp_etl_spark.sources.catalog import TABLES, load_table
from tinyerp_etl_spark.sources.json_pages import NO_RECORDS_ERROR, read_envelope_pages

NOW = datetime(2024, 1, 31, 8, 0, 0, tzinfo=timezone.utc)
PAGE_SIZE = 500


def make_events_page_source(spark, sf_dir):
    """Page source over the events table: filter by ts, serve fixed pages.

    Mirrors the elided funcao_busca contract (ref :348): returns
    (page_df | None, total_pages). Page slicing keys on event_id so
    pages are deterministic.
    """
    events = load_table(spark, sf_dir, "events")

    def source(filter_ts: datetime, page: int):
        inc = events.filter(F.col("ts") > F.lit(filter_ts.replace(tzinfo=None)))
        total = inc.count()
        total_pages = (total + PAGE_SIZE - 1) // PAGE_SIZE
        if total == 0:
            return None, 0
        ranked = inc.withColumn(
            "__pg",
            (F.row_number().over(__import__("pyspark").sql.window.Window.orderBy("event_id")) - 1)
            / PAGE_SIZE,
        )
        page_df = ranked.filter(F.col("__pg").cast("int") == page - 1).drop("__pg")
        return page_df, total_pages

    return source


@pytest.fixture
def stores(spark, tmp_path):
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    tgt = TableStore(spark, str(tmp_path / "events_tbl"), TABLES["events"])
    return wm, cp, tgt


def _sync_cfg(spark, sf_dir, tgt, max_pages=10_000):
    return EntitySync(
        name="events",
        source=make_events_page_source(spark, sf_dir),
        store=tgt,
        keys=["event_id"],
        max_pages=max_pages,
    )


def test_cold_start_full_sync(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit((NOW - timedelta(days=60)).replace(tzinfo=None)))
        .count()
    )
    assert res.status == STATUS_DONE
    assert tgt.read().count() == expected
    assert res.records == expected
    # watermark committed at step start
    assert wm.get("events") == NOW


def test_second_run_is_incremental_noop(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    n1 = tgt.read().count()
    v1 = tgt.current_version()
    # second run: watermark > max(ts) in data → empty increment, no growth
    res2 = run_entity_sync(spark, cfg, wm, cp, now=NOW + timedelta(days=1))
    assert res2.status == STATUS_DONE
    assert res2.records == 0
    assert tgt.read().count() == n1
    assert tgt.current_version() == v1  # no data page → no new version


def test_store_max_is_read_only_without_a_watermark(spark, sf_dir, stores, tmp_path):
    """MAX(business ts) scans the whole store and feeds only the
    synthetic bootstrap: a run with a stored watermark never asks."""
    wm, cp, tgt = stores
    calls = []

    def max_ts(df):
        calls.append(df)
        return NOW - timedelta(days=1)

    cfg = _sync_cfg(spark, sf_dir, tgt)
    cfg.max_business_ts = max_ts
    run_entity_sync(spark, cfg, wm, cp, now=NOW)  # empty store: no MAX
    run_entity_sync(spark, cfg, wm, cp, now=NOW + timedelta(days=1))
    assert calls == []
    # no watermark but a loaded store: the synthetic bootstrap reads it
    res = run_entity_sync(
        spark, cfg, WatermarkStore(spark, str(tmp_path / "wm2")), cp,
        now=NOW + timedelta(days=1),
    )
    assert len(calls) == 1
    assert res.filter_ts == NOW.replace(hour=0)


def test_rerun_after_watermark_reset_is_idempotent(spark, sf_dir, stores):
    """At-least-once delivery + idempotent MERGE ⇒ same table."""
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt)
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    rows1 = sorted(tuple(r) for r in tgt.read().collect())
    # wipe the watermark: the full window is re-read (overlap), MERGE absorbs
    wm.commit("events", NOW - timedelta(days=60))
    run_entity_sync(spark, cfg, wm, cp, now=NOW)
    rows2 = sorted(tuple(r) for r in tgt.read().collect())
    assert rows1 == rows2


def test_page_cap_leaves_work_running(spark, sf_dir, stores):
    wm, cp, tgt = stores
    cfg = _sync_cfg(spark, sf_dir, tgt, max_pages=1)
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert res.status == STATUS_RUNNING  # EM_ANDAMENTO (ref :368-370)
    assert tgt.read().count() == PAGE_SIZE
    assert wm.get("events") is None  # watermark NOT committed mid-step
    # next run resumes from page 2 and finishes
    cfg2 = _sync_cfg(spark, sf_dir, tgt, max_pages=10_000)
    res2 = run_entity_sync(spark, cfg2, wm, cp, now=NOW)
    assert res2.status == STATUS_DONE
    assert wm.get("events") == NOW


def test_source_failure_marks_error_and_resumes(spark, sf_dir, stores):
    wm, cp, tgt = stores
    real = make_events_page_source(spark, sf_dir)
    calls = {"n": 0}

    def flaky(filter_ts, page):
        calls["n"] += 1
        if page == 2:
            raise RuntimeError("boom on page 2")
        return real(filter_ts, page)

    cfg = EntitySync(
        name="events", source=flaky, store=tgt, keys=["event_id"]
    )
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert res.status == STATUS_ERROR
    assert res.error and "boom" in res.error
    assert wm.get("events") is None
    # recovery with the healthy source resumes at page 2, not page 1
    cfg2 = _sync_cfg(spark, sf_dir, tgt)
    res2 = run_entity_sync(spark, cfg2, wm, cp, now=NOW)
    assert res2.status == STATUS_DONE
    full = run_full_expected(spark, sf_dir)
    assert tgt.read().count() == full


def run_full_expected(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit((NOW - timedelta(days=60)).replace(tzinfo=None)))
        .count()
    )


KV = StructType([StructField(c, LongType()) for c in ("k", "v", "ver")])
DEDUP = pytest.mark.parametrize("keep_latest", [True, False], ids=["keep_latest", "drop_duplicates"])


def _envelope_page(spark, tmp_path, records):
    """One Tiny-API page file read back through the envelope reader; no
    records is the "Nenhum registro encontrado" page (ref :281-282)."""
    d = tmp_path / "page"
    d.mkdir()
    if records:
        ret = {"status": "OK", "pagina": 1, "numero_paginas": 1,
               "kvs": [{"kv": dict(zip(KV.fieldNames(), r))} for r in records]}
    else:
        ret = {"status": "Erro", "erros": [{"erro": NO_RECORDS_ERROR}]}
    (d / "p1.json").write_text(json.dumps({"retorno": ret}))
    return read_envelope_pages(spark, str(d), "kvs", "kv", KV)


def _sync_one_page(spark, tmp_path, store, page_df, keep_latest):
    cfg = EntitySync(
        name="kv", source=lambda _ts, _page: (page_df, 1), store=store,
        keys=["k"], order_by=[F.col("ver").desc()] if keep_latest else None,
    )
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    return run_entity_sync(spark, cfg, wm, cp, now=NOW)


def _kv_rows(df):
    return sorted(tuple(r) for r in df.collect())


EXISTING = [(1, 10, 1), (5, 50, 1)]


@DEDUP
@pytest.mark.parametrize("page", ["static_empty", "no_records_page"])
def test_empty_page_is_done_with_zero_records(spark, tmp_path, keep_latest, page):
    """An empty page's observed node is optimized away (statically, or
    by AQE once the page scan comes back empty): no metrics row, 0 rows."""
    store = TableStore(spark, str(tmp_path / "kv"), KV)
    store.commit(spark.createDataFrame(EXISTING, KV))
    if page == "static_empty":
        page_df = spark.createDataFrame([], KV)
    else:
        page_df = _envelope_page(spark, tmp_path, [])
    res = _sync_one_page(spark, tmp_path, store, page_df, keep_latest)
    assert (res.status, res.error) == (STATUS_DONE, None)
    assert res.records == page_df.count() == 0
    assert _kv_rows(store.read()) == EXISTING


@DEDUP
@pytest.mark.parametrize("bootstrapped", [True, False], ids=["into_version", "first_page"])
def test_page_records_count_rows_before_dedup(spark, tmp_path, keep_latest, bootstrapped):
    """``records`` counts the page's rows, duplicate keys included, also
    for the first page into a store with no version (pedido_itens)."""
    store = TableStore(spark, str(tmp_path / "kv"), KV)
    if bootstrapped:
        store.commit(spark.createDataFrame(EXISTING, KV))
    page = [(1, 11, 2), (1, 12, 3), (2, 20, 1), (3, 30, 1), (3, 31, 2)]
    page_df = _envelope_page(spark, tmp_path, page)
    res = _sync_one_page(spark, tmp_path, store, page_df, keep_latest)
    assert (res.status, res.error) == (STATUS_DONE, None)
    assert res.records == page_df.count() == 5
    got = _kv_rows(store.read())
    kept = [(5, 50, 1)] if bootstrapped else []
    if keep_latest:
        assert got == sorted(kept + [(1, 12, 3), (2, 20, 1), (3, 31, 2)])
    else:  # dropDuplicates keeps some row per key
        assert [r[0] for r in got] == sorted([r[0] for r in kept] + [1, 2, 3])
        assert set(got) <= set(kept + page)


def test_one_page_sync_runs_jobs_only_in_source_and_commit(spark, tmp_path):
    """The page is counted in-band by the commit's write: outside the
    source and TableStore.commit, a sync step starts no Spark job."""
    sc = spark.sparkContext
    store = TableStore(spark, str(tmp_path / "kv"), KV)
    store.commit(spark.createDataFrame(EXISTING, KV))
    page = [(1, 11, 2), (2, 20, 1), (2, 21, 2)]
    commit = store.commit

    def in_io_group(fn):
        def run(*args, **kwargs):
            sc.setJobGroup("sync-io", "source and commit")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup("sync-step", "the rest of the step")
        return run

    store.commit = in_io_group(commit)
    source = in_io_group(lambda _ts, _page: (_envelope_page(spark, tmp_path, page), 1))
    cfg = EntitySync(name="kv", source=source, store=store, keys=["k"],
                     order_by=[F.col("ver").desc()])
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    sc.setJobGroup("sync-step", "the rest of the step")
    try:
        res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
        assert (res.status, res.records) == (STATUS_DONE, 3)
        assert list(sc.statusTracker().getJobIdsForGroup("sync-step")) == []
        assert list(sc.statusTracker().getJobIdsForGroup("sync-io"))
    finally:
        sc.setJobGroup(None, None)
    assert _kv_rows(store.read()) == [(1, 11, 2), (2, 21, 2), (5, 50, 1)]


@DEDUP
def test_bad_page_in_a_sync_step_changes_no_stored_state(spark, tmp_path, keep_latest):
    """A good page next to an error page: the MERGE's commit is the first
    action on the page, so its protocol check fails the step before
    anything is stored."""
    store = TableStore(spark, str(tmp_path / "kv"), KV)
    store.commit(spark.createDataFrame(EXISTING, KV))
    d = tmp_path / "pages"
    d.mkdir()
    good = {"status": "OK", "kvs": [{"kv": {"k": 1, "v": 11, "ver": 2}}]}
    bad = {"status": "Erro", "codigo_erro": "32", "erros": [{"erro": "Parametro invalido"}]}
    for name, ret in (("p1.json", good), ("p2.json", bad)):
        (d / name).write_text(json.dumps({"retorno": ret}))
    cfg = EntitySync(
        name="kv", source=lambda _ts, _page: (read_envelope_pages(spark, str(d), "kvs", "kv", KV), 1),
        store=store, keys=["k"], order_by=[F.col("ver").desc()] if keep_latest else None,
    )
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    cp = PageCheckpoint(spark, str(tmp_path / "cp"))
    res = run_entity_sync(spark, cfg, wm, cp, now=NOW)
    assert res.status == STATUS_ERROR
    assert "status=Erro" in res.error and "codigo_erro=32" in res.error
    assert store.current_version() == 1
    assert not [p for p in os.listdir(tmp_path / "kv") if p.startswith(".staging-")]
    assert cp.progress("kv").pagina_atual == 0
    assert wm.get("kv") is None
    assert _kv_rows(store.read()) == EXISTING


def test_sync_step_conflicts_with_a_writer_landing_mid_commit(spark, tmp_path, monkeypatch):
    """Another writer lands a version while the step's MERGE is being
    written: the step commits against the version it read, so it fails
    (ERRO) instead of claiming the next version and dropping that
    writer's rows."""
    store = TableStore(spark, str(tmp_path / "kv"), KV)
    store.commit(spark.createDataFrame(EXISTING, KV))
    other = [(9, 90, 1)]
    stage_write = store._stage_write

    def other_writer_lands_first(*args, **kwargs):
        TableStore(spark, store.path, KV).commit(spark.createDataFrame(other, KV))
        return stage_write(*args, **kwargs)

    monkeypatch.setattr(store, "_stage_write", other_writer_lands_first)
    page_df = _envelope_page(spark, tmp_path, [(1, 11, 2)])
    res = _sync_one_page(spark, tmp_path, store, page_df, keep_latest=True)
    assert res.status == STATUS_ERROR
    assert "advanced to v2" in res.error
    assert store.current_version() == 2
    assert _kv_rows(store.read()) == other
    assert not [p for p in os.listdir(tmp_path / "kv") if p.startswith(".staging-")]
    assert PageCheckpoint(spark, str(tmp_path / "cp")).progress("kv").pagina_atual == 0


def test_pipeline_steps_fail_independently(spark, sf_dir, stores, tmp_path):
    wm, cp, tgt = stores

    def broken(filter_ts, page):
        raise RuntimeError("entity down")

    tgt2 = TableStore(spark, str(tmp_path / "t2"), TABLES["events"])
    syncs = [
        EntitySync(name="broken_entity", source=broken, store=tgt2, keys=["event_id"]),
        _sync_cfg(spark, sf_dir, tgt),
    ]
    results = run_pipeline(spark, syncs, wm, cp, now=NOW)
    assert [r.status for r in results] == [STATUS_ERROR, STATUS_DONE]


def _kv_sync(spark, name, store, rows, before=lambda: None, **kw):
    """A one-page step serving ``rows``, calling ``before`` first."""
    def source(_ts, _page):
        before()
        return spark.createDataFrame(rows, KV), 1

    return EntitySync(name=name, source=source, store=store, keys=["k"], **kw)


def _control(spark, tmp_path):
    return (WatermarkStore(spark, str(tmp_path / "wm")),
            PageCheckpoint(spark, str(tmp_path / "cp")))


def test_pipeline_runs_steps_concurrently(spark, tmp_path):
    """Each source waits for the other's at one barrier: only steps
    running at the same time get past it."""
    barrier = threading.Barrier(2, timeout=60)
    a = TableStore(spark, str(tmp_path / "a"), KV)
    b = TableStore(spark, str(tmp_path / "b"), KV)
    rows_a, rows_b = [(1, 10, 1), (2, 20, 1)], [(3, 30, 1), (4, 40, 1), (5, 50, 1)]
    syncs = [_kv_sync(spark, "a", a, rows_a, barrier.wait),
             _kv_sync(spark, "b", b, rows_b, barrier.wait)]
    wm, cp = _control(spark, tmp_path)
    results = run_pipeline(spark, syncs, wm, cp, now=NOW)
    assert [(r.name, r.status, r.records, r.error) for r in results] == [
        ("a", STATUS_DONE, 2, None), ("b", STATUS_DONE, 3, None)]
    assert (_kv_rows(a.read()), _kv_rows(b.read())) == (rows_a, rows_b)
    assert (wm.get("a"), wm.get("b")) == (NOW, NOW)


def test_caller_job_group_holds_every_pipeline_job(spark, tmp_path):
    """The steps' threads inherit the caller's job group: every job
    started between two marker jobs is in it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_jobs(group):
        sc.setJobGroup(group, "marker")
        spark.range(1).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return tracker.getJobIdsForGroup(group)

    syncs = [_kv_sync(spark, "a", TableStore(spark, str(tmp_path / "a"), KV), [(1, 10, 1)]),
             _kv_sync(spark, "b", TableStore(spark, str(tmp_path / "b"), KV), [(2, 20, 1)])]
    wm, cp = _control(spark, tmp_path)
    try:
        first = max(marker_jobs("pipeline-group-before"))
        sc.setJobGroup("pipeline-group", "two concurrent steps")
        results = run_pipeline(spark, syncs, wm, cp, now=NOW)
        last = min(marker_jobs("pipeline-group-after"))
    finally:
        sc.setJobGroup(None, None)
    assert [r.status for r in results] == [STATUS_DONE, STATUS_DONE]
    jobs = set(tracker.getJobIdsForGroup("pipeline-group"))
    assert jobs and jobs == set(range(first + 1, last))


def _empty_steps(spark, tmp_path, steps, calls):
    """(name, store dir) steps whose source records a call and serves
    no page."""
    def source(_ts, _page):
        calls.append(1)
        return None, 0

    return [EntitySync(name=name, source=source, store=TableStore(spark, str(tmp_path / path), KV),
                       keys=["k"]) for name, path in steps]


@pytest.mark.parametrize("steps, match", [
    ([("a", "s1"), ("a", "s2")], "two sync steps are named 'a'"),
    ([("a", "s1"), ("m", "s2"), ("b", "s1")], "'a' and 'b' both write .*s1"),
], ids=["duplicate_name", "shared_store"])
def test_pipeline_contract_violation_runs_no_step(spark, tmp_path, steps, match):
    calls = []
    wm, cp = _control(spark, tmp_path)
    with pytest.raises(ValueError, match=match):
        run_pipeline(spark, _empty_steps(spark, tmp_path, steps, calls), wm, cp, now=NOW)
    assert calls == []
    assert not (tmp_path / "cp").exists() and not (tmp_path / "wm").exists()


def test_schema_evolution_add_column(spark, sf_dir, tmp_path):
    """ALTER TABLE ADD COLUMN IF NOT EXISTS semantics (ref :93,:97-99):
    idempotent, old versions readable with NULLs, new instances see the
    evolved schema, new commits carry the column."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").limit(50)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    assert store.add_column("data_filtro_api", "timestamp") is True
    assert store.add_column("data_filtro_api", "timestamp") is False  # IF NOT EXISTS

    # v1 (written pre-evolution) reads back with the new column as NULL
    got = store.read()
    assert "data_filtro_api" in got.columns
    assert got.filter(F.col("data_filtro_api").isNotNull()).count() == 0
    assert got.count() == 50

    # a fresh instance constructed with the OLD schema sees the evolved one
    store2 = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    assert "data_filtro_api" in store2.schema.fieldNames()

    # a post-evolution commit persists real values for the new column
    store2.commit(store2.read().withColumn("data_filtro_api", F.lit("2026-01-01").cast("timestamp")), n_files=1)
    assert store2.read().filter(F.col("data_filtro_api").isNotNull()).count() == 50


def test_time_travel_read_and_cdc_between_versions(spark, sf_dir, tmp_path):
    """Version dirs are immutable → read_version reproduces any past
    state; snapshot_diff over two versions recovers the change set."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.merge import snapshot_diff
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)
    # v2: bump value on even ids, drop ids >= 30
    store.commit(
        store.read()
        .filter(F.col("event_id") < 30)
        .withColumn(
            "value",
            F.when(F.col("event_id") % 2 == 0, F.col("value") + 1.0).otherwise(
                F.col("value")
            ),
        ),
        n_files=1,
    )
    assert store.versions() == [1, 2]
    assert store.read_version(1).count() == 40
    diff = snapshot_diff(
        store.read_version(1), store.read(), keys=["event_id"], compare_cols=["value"]
    )
    ops = {r["op"]: r["n"] for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert ops.get("delete", 0) == 10
    assert ops.get("update", 0) == 15
    assert ops.get("insert", 0) == 0

    import pytest

    with pytest.raises(ValueError):
        store.read_version(99)


def test_vacuum_reaps_old_versions_protects_current(spark, sf_dir, tmp_path):
    """VACUUM deletes versions beyond the retention window, never the
    CURRENT pointer version, and reaped versions raise on time travel
    while retained ones stay readable."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    for i in range(1, 5):  # v1..v4
        store.commit(ev.filter(F.col("event_id") < 5 * i), n_files=1)
    assert store.versions() == [1, 2, 3, 4]

    assert store.vacuum(retain_last=2) == [1, 2]
    assert store.versions() == [3, 4]
    with _pytest.raises(ValueError):
        store.read_version(1)
    assert store.read_version(3).count() == 15
    assert store.read().count() == 20  # current untouched

    # retention smaller than history never deletes the CURRENT version
    assert store.vacuum(retain_last=1) == [3]
    assert store.versions() == [4]
    assert store.read().count() == 20
    with _pytest.raises(ValueError):
        store.vacuum(retain_last=0)
    # idempotent once within retention
    assert store.vacuum(retain_last=1) == []


def test_optimistic_concurrency_two_writer_race(spark, sf_dir, tmp_path):
    """Two writers computing from the same base version: the second
    commit with expected_version must fail with ConcurrentWriteError
    (not silently last-win the pointer rename), its orphan version dir
    must not survive, and the first writer's rows stay current."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # both writers read at v1
    base = store.current_version()
    writer_a = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    writer_b = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    df_a = writer_a.read().filter(F.col("event_id") < 30)
    df_b = writer_b.read().filter(F.col("event_id") < 20)

    assert writer_a.commit(df_a, n_files=1, expected_version=base) == 2

    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        writer_b.commit(df_b, n_files=1, expected_version=base)

    # loser left no pointer movement and no committed version dir
    assert store.current_version() == 2
    assert store.versions() == [1, 2]
    assert store.read().count() == 30  # writer A's rows, not B's

    # the documented retry loop: re-read, recompute, commit at the new base
    df_b2 = writer_b.read().filter(F.col("event_id") < 20)
    assert writer_b.commit(df_b2, n_files=1, expected_version=2) == 3
    assert store.read().count() == 20

    # None commits against the version on disk when the commit starts
    assert store.commit(store.read(), n_files=1) == 4


def test_optimistic_concurrency_rejects_stale_fast(spark, sf_dir, tmp_path):
    """The early check fires before any data write: a stale
    expected_version fails immediately and writes nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)
    store.commit(ev, n_files=1)

    before = set(os.listdir(str(tmp_path / "t")))
    with _pytest.raises(ConcurrentWriteError):
        store.commit(ev, n_files=1, expected_version=1)
    assert set(os.listdir(str(tmp_path / "t"))) == before


def test_commit_never_clobbers_claimed_version_dir(spark, sf_dir, tmp_path):
    """The rename-claim protocol: a version directory that already
    exists (a concurrent winner mid-commit) can never be overwritten
    or deleted by a racing writer — a stale commit raises, a bare one
    commits on top of it; the claimed dir's contents survive both."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # simulate a concurrent winner that has CLAIMED v2 (renamed its
    # staging dir into place) but not yet swapped the pointer
    claimed = store._version_dir(2)
    os.makedirs(claimed)
    marker = os.path.join(claimed, "winner.parquet")
    with open(marker, "w") as f:
        f.write("winner bytes")

    # the rename IS the commit record: current_version rolls forward
    # to the claimed dir even though the pointer still says 1, so the
    # racing OCC writer fails the fast pre-check — and never clobbers
    assert store.current_version() == 2
    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        store.commit(ev, n_files=1, expected_version=1)
    assert open(marker).read() == "winner bytes"

    # no expected_version: commits against the rolled-forward v2,
    # still never touching the claimed dir
    v = store.commit(ev, n_files=1)
    assert v == 3
    assert open(marker).read() == "winner bytes"
    assert store.current_version() == 3
    # no staging leftovers
    assert not [d for d in os.listdir(str(tmp_path / "t")) if d.startswith(".staging")]


def test_occ_rename_is_sole_arbiter(spark, sf_dir, tmp_path):
    """The TOCTOU window between the post-write recheck and the claim:
    if a concurrent commit lands in that window, this writer's rename
    onto the PINNED v{expected+1} must fail (the dir is taken) — it
    must NOT re-read the pointer and silently claim one higher, which
    would orphan the concurrent writer's rows. Simulated by freezing
    current_version at the stale value so both pre-checks pass and
    only the rename can arbitrate."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    racer = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    racer.current_version = lambda: 1  # checks see the world at v1
    store.commit(ev.filter(F.col("event_id") < 5), n_files=1, expected_version=1)  # winner → v2
    with _pytest.raises(ConcurrentWriteError, match="claimed"):
        racer.commit(ev, n_files=1, expected_version=1)
    # the winner's commit is intact — nothing claimed past it
    assert store.current_version() == 2
    assert store.read().count() == 5
    # a bare commit is computed from the version it sees (v1) and
    # loses the same rename: it never takes the next free version
    with _pytest.raises(ConcurrentWriteError, match="claimed"):
        racer.commit(ev, n_files=1)
    assert store.current_version() == 2
    assert store.read().count() == 5


def test_crashed_writer_orphan_rolls_forward(spark, sf_dir, tmp_path):
    """A crash between the version-dir rename and the pointer swap must
    not wedge the table: the renamed dir holds a complete write, so it
    becomes the current version (roll-forward) and the OCC retry loop
    proceeds at the next number instead of failing forever."""
    import os

    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    store.commit(ev, n_files=1)

    # simulate the crash: commit v2 fully, then rewind the pointer to v1
    store.commit(ev.filter(F.col("event_id") < 5), n_files=1)
    with open(os.path.join(str(tmp_path / "t"), "_CURRENT"), "w") as f:
        f.write("1")

    # readers roll forward to the complete renamed version
    assert store.current_version() == 2
    assert store.read().count() == 5
    # and an OCC commit computed from the rolled-forward version lands
    assert store.commit(ev, n_files=1, expected_version=2) == 3
    assert store.current_version() == 3
    assert store.read().count() == 10


def test_occ_armed_for_first_batch_into_fresh_store(spark, sf_dir, tmp_path):
    """An empty table is version 0: it does not exist, has no data
    files, and reads as an empty frame in its (evolved) schema. The
    version a writer reads from a fresh store, passed straight
    through, keeps the check armed — a concurrent first commit must
    fail it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    empty = TableStore(spark, str(tmp_path / "empty"), TABLES["events"])
    empty.add_column("ingest_note", "string")
    assert empty.current_version() == 0
    assert not empty.exists()
    assert empty.data_file_count() == 0
    v0 = empty.read_version(0)
    assert v0.schema == empty.schema
    assert v0.schema.fieldNames()[-1] == "ingest_note"
    assert v0.count() == 0

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10)
    store = TableStore(spark, str(tmp_path / "t"), TABLES["events"])
    base = store.current_version()
    assert store.commit(ev, n_files=1, expected_version=base) == 1  # empty as read

    store2 = TableStore(spark, str(tmp_path / "t2"), TABLES["events"])
    base2 = store2.current_version()
    store2.commit(ev, n_files=1)  # concurrent writer lands first
    with _pytest.raises(ConcurrentWriteError):
        store2.commit(ev, n_files=1, expected_version=base2)
    assert store2.current_version() == 1
