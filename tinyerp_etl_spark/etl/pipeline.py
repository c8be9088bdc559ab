"""Per-entity incremental sync — the reference's step orchestrator.

Re-expresses ``executar_etapa_paginada`` (ref tiny_api_v2_cliente.py:
324-375) and the ``__main__`` 4-step DAG (ref :307-420) Spark-first:

- a *page source* is a callable ``(filter_ts, page) -> (DataFrame |
  None, total_pages)`` — the dataflow contract of the elided
  ``funcao_busca`` loaders (ref :348). It is called from its step's
  thread and may run at the same time as other steps' sources, so
  any state it shares with them must be safe to use from two threads;
- each page's DataFrame is transformed, then MERGE-upserted into a
  versioned TableStore (idempotent sink ⇒ at-least-once delivery from
  the watermark layer becomes effectively exactly-once), committed
  against the version it read, so a concurrent writer fails the step
  instead of losing its rows;
- page progress goes through PageCheckpoint (resume at saved+1,
  ref :183-223); the page cap leaves status EM_ANDAMENTO for the next
  run (ref :368-370); failures mark ERRO and halt the step without
  failing sibling steps (ref :372-373, independent-failure tolerance
  of the main DAG);
- on completion the watermark commits the *step start time*
  (ref :326, :363), so overlap is re-read next run;
- ``run_pipeline`` runs the steps concurrently, one thread per step:
  a step's fixed driver costs (planning, AQE re-plans, the commit's
  file moves) overlap its siblings' jobs. The reference's step order
  (Categorias → Produtos → Estoques) matters only where a step reads
  another's store; such a step goes in a later ``run_pipeline`` call,
  which starts once every step of the earlier call has returned.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from tinyerp_etl_spark.etl.checkpoint import (
    STATUS_DONE,
    STATUS_ERROR,
    STATUS_RUNNING,
    PageCheckpoint,
)
from tinyerp_etl_spark.etl.merge import merge_upsert
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import (
    SAFETY_DAYS_DEFAULT,
    WatermarkStore,
    resolve_filter_timestamp,
)

log = logging.getLogger(__name__)

MAX_PAGES_PER_STEP_DEFAULT = 10_000  # MAX_PAGINAS_POR_ETAPA (ref :50)

# (filter_ts, page) -> (page DataFrame or None-when-empty, total_pages)
PageSource = Callable[[datetime, int], tuple[DataFrame | None, int]]


@dataclass
class EntitySync:
    """Config for one entity's incremental sync (one reference PASSO)."""

    name: str
    source: PageSource
    store: TableStore
    keys: Sequence[str]
    order_by: Sequence[Column | str] | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None
    safety_days: int = SAFETY_DAYS_DEFAULT
    cold_start_days: int | None = None
    max_pages: int = MAX_PAGES_PER_STEP_DEFAULT
    # MAX(business ts) provider for the synthetic-bootstrap branch
    max_business_ts: Callable[[DataFrame], datetime | None] | None = None


@dataclass
class SyncResult:
    """``records``: rows of the transformed pages before the MERGE's
    in-page dedup, counted in-band by the commit's own write."""

    name: str
    status: str
    pages: int
    records: int
    filter_ts: datetime | None = None
    error: str | None = None


def _observed_rows(rows: Observation) -> int:
    """The page row count observed during the commit's write.

    No metrics row means 0 rows: the observed page feeds the union
    branch of the MERGE (and its anti-join keys), and Spark's optimizer,
    or AQE at run time, removes that branch, observed node included,
    only once it is proven empty. ``Observation.get`` cannot return a
    missing row, so its emptiness is read from the JVM side. A row of
    any other shape is a fault and raises.
    """
    if rows._jo.getRow().length() == 0:
        return 0
    got = rows.get
    if set(got) != {"n"}:
        raise RuntimeError(f"page row count observed as {got!r}")
    return got["n"]


def run_entity_sync(
    spark: SparkSession,
    cfg: EntitySync,
    watermarks: WatermarkStore,
    checkpoints: PageCheckpoint,
    now: datetime | None = None,
) -> SyncResult:
    """One incremental sync step (ref executar_etapa_paginada :324-375)."""
    step_start = now or datetime.now(timezone.utc)  # ref :326

    existing_max = None
    if cfg.max_business_ts is not None and cfg.store.exists():
        existing_max = cfg.max_business_ts(cfg.store.read())
    filter_ts = resolve_filter_timestamp(
        stored=watermarks.get(cfg.name),
        max_business_ts=existing_max,
        now=step_start,
        safety_days=cfg.safety_days,
        cold_start_days=cfg.cold_start_days,
    )
    filter_key = filter_ts.strftime("%d/%m/%Y %H:%M:%S")  # ref date-filter format

    page = checkpoints.start(cfg.name, filter_key)
    pages_done = 0
    records = 0
    try:
        while page <= cfg.max_pages:  # ref :345
            page_df, total_pages = cfg.source(filter_ts, page)
            if page_df is not None and cfg.transform is not None:
                page_df = cfg.transform(page_df)
            n = 0
            if page_df is not None:
                rows = Observation()
                page_df = page_df.observe(rows, F.count(F.lit(1)).alias("n"))
                # the MERGE reads the version the commit pins: it raises
                # ConcurrentWriteError if any writer landed after ``base``
                base = cfg.store.current_version()
                merged = merge_upsert(
                    cfg.store.read_version(base), page_df, cfg.keys, cfg.order_by
                )
                # the commit's write is the first action on ``merged``:
                # the only one an Observation reports
                cfg.store.commit(merged, expected_version=base)
                n = _observed_rows(rows)
            checkpoints.advance(cfg.name, page, total_pages, n)
            pages_done += 1
            records += n
            # termination: empty source or last page (ref :360)
            if total_pages == 0 or page >= total_pages:
                checkpoints.finish(cfg.name, STATUS_DONE)
                watermarks.commit(cfg.name, step_start)  # ref :363
                return SyncResult(cfg.name, STATUS_DONE, pages_done, records, filter_ts)
            page += 1
        # page-cap exhaustion: leave work for the next run (ref :368-370)
        checkpoints.finish(cfg.name, STATUS_RUNNING)
        return SyncResult(cfg.name, STATUS_RUNNING, pages_done, records, filter_ts)
    except Exception as exc:  # halt step, don't fail siblings (ref :372-373)
        log.exception("entity sync %s failed", cfg.name)
        checkpoints.finish(cfg.name, STATUS_ERROR)
        return SyncResult(
            cfg.name, STATUS_ERROR, pages_done, records, filter_ts, error=str(exc)
        )


def _check_steps(syncs: Sequence[EntitySync]) -> None:
    """Raise ValueError unless the steps can run concurrently: unique
    names (they key checkpoint and watermark rows) and one step per
    store (concurrent MERGEs would fail each other's optimistic-
    concurrency check)."""
    names: set[str] = set()
    writers: dict[str, str] = {}
    for cfg in syncs:
        if cfg.name in names:
            raise ValueError(f"two sync steps are named {cfg.name!r}")
        names.add(cfg.name)
        path = os.path.abspath(cfg.store.path)
        if path in writers:
            raise ValueError(
                f"steps {writers[path]!r} and {cfg.name!r} both write {path}"
            )
        writers[path] = cfg.name


def run_pipeline(
    spark: SparkSession,
    syncs: Sequence[EntitySync],
    watermarks: WatermarkStore,
    checkpoints: PageCheckpoint,
    now: datetime | None = None,
) -> list[SyncResult]:
    """The main DAG (ref :324-393): every step in its own thread; steps
    fail independently. Results come back in ``syncs`` order.

    Each thread inherits the caller's Spark local properties (job group,
    description) and tags, so they cover every job a step runs. Sources
    of different steps run at the same time; the shared ``watermarks``
    and ``checkpoints`` serialize their own updates. The steps are
    checked first (``ValueError`` before any step runs): unique names
    and no two steps writing one store. A step whose source or
    transform reads another step's store goes in a later call, so it
    sees that step's commit whatever the timing.

    Ends with the audit: per-table row counts (ref :395-401) are left
    to the caller via ``TableStore.read().count()``.
    """
    _check_steps(syncs)
    if not syncs:
        return []

    def step(cfg: EntitySync) -> SyncResult:
        return run_entity_sync(spark, cfg, watermarks, checkpoints, now=now)

    with ThreadPoolExecutor(len(syncs), thread_name_prefix="entity-sync") as pool:
        # wrapped per step: each thread gets its own copy of the caller's
        # local properties, so one step's job-group change cannot leak
        # into another's
        futures = [pool.submit(inheritable_thread_target(spark)(step), cfg) for cfg in syncs]
    return [f.result() for f in futures]
