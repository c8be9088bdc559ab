"""Page-level checkpoint / resume — the reference's progress table.

Mirrors ``script_progresso_paginas`` (ref tiny_api_v2_cliente.py:91)
and its three operations:

- ``start``  ≡ inicializar_progresso (ref :183-223): resume at
  ``saved_page + 1`` when a previous run for the same filter is
  ``EM_ANDAMENTO``/``ERRO``; restart at 1 when the filter changed or
  the previous run is ``CONCLUIDO``.
- ``advance`` ≡ atualizar_progresso_pagina (ref :205-215): per-page
  upsert of (page, total, running record count, ts).
- ``finish`` ≡ finalizar_progresso (ref :198): terminal status.

In the Structured Streaming mirror this is exactly the checkpoint
offset log; in batch mode it is one local JSON document (process
→ progress row), replaced atomically on every update — control state,
not data, so no Spark job runs here. An update reads the whole document
and replaces it, so each instance serializes its updates under a lock
(concurrent sync steps share one instance); reads take no lock, as the
file is only ever replaced whole.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from tinyerp_etl_spark.etl.table_store import read_json, write_atomic

STATUS_PENDING = "PENDENTE"
STATUS_RUNNING = "EM_ANDAMENTO"
STATUS_ERROR = "ERRO"
STATUS_DONE = "CONCLUIDO"


@dataclass
class Progress:
    processo: str
    data_filtro_api: str | None
    pagina_atual: int
    total_paginas: int
    registros_processados: int
    status_execucao: str


class PageCheckpoint:
    """JSON-backed page progress store (one row per process).

    The store never touches Spark: ``spark`` is accepted for the callers'
    uniform ``(spark, path)`` construction and not used.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.path = path
        self._lock = threading.Lock()  # held from an update's load to its write

    # -- storage ------------------------------------------------------

    def _load(self) -> dict[str, dict]:
        return read_json(self.path) or {}

    def _upsert(self, rows: dict[str, dict], process: str, **fields) -> None:
        """Update ``process``'s row in ``rows`` (as just loaded) and
        replace the file with the result."""
        now = datetime.now(timezone.utc).isoformat()
        cur = rows.setdefault(
            process,
            {
                "data_filtro_api": None,
                "pagina_atual": 0,
                "total_paginas": 0,
                "registros_processados": 0,
                "timestamp_inicio": now,
                "status_execucao": STATUS_PENDING,
            },
        )
        cur.update(fields, timestamp_ultima_pagina=now)
        write_atomic(self.path, json.dumps(rows, sort_keys=True))

    # -- reference-contract operations --------------------------------

    def start(self, process: str, filter_date: str) -> int:
        """Resolve the starting page for a run (ref :183-223).

        Returns the page to start from: ``saved + 1`` when resuming an
        interrupted run with the same filter date, else 1.
        """
        with self._lock:
            rows = self._load()
            prev = rows.get(process)
            if (
                prev is not None
                and prev["data_filtro_api"] == filter_date
                and prev["status_execucao"] in (STATUS_RUNNING, STATUS_ERROR)
            ):
                start_page = prev["pagina_atual"] + 1
                self._upsert(rows, process, status_execucao=STATUS_RUNNING)
                return start_page
            self._upsert(
                rows,
                process,
                data_filtro_api=filter_date,
                pagina_atual=0,
                total_paginas=0,
                registros_processados=0,
                timestamp_inicio=datetime.now(timezone.utc).isoformat(),
                status_execucao=STATUS_RUNNING,
            )
            return 1

    def advance(self, process: str, page: int, total_pages: int, n_records: int) -> None:
        """Commit one page (ref :205-215): running-counter accumulation."""
        with self._lock:
            rows = self._load()
            prev = rows.get(process)
            done = (prev["registros_processados"] if prev else 0) + n_records
            self._upsert(
                rows,
                process,
                pagina_atual=page,
                total_paginas=total_pages,
                registros_processados=done,
                status_execucao=STATUS_RUNNING,
            )

    def finish(self, process: str, status: str) -> None:
        """Terminal status: CONCLUIDO / ERRO / EM_ANDAMENTO (page cap)."""
        with self._lock:
            self._upsert(self._load(), process, status_execucao=status)

    def progress(self, process: str) -> Progress | None:
        r = self._load().get(process)
        if r is None:
            return None
        return Progress(
            processo=process,
            data_filtro_api=r["data_filtro_api"],
            pagina_atual=r["pagina_atual"],
            total_paginas=r["total_paginas"],
            registros_processados=r["registros_processados"],
            status_execucao=r["status_execucao"],
        )

    def percent_complete(self, process: str) -> float | None:
        """round(page/total*100, 1) — ref :211."""
        p = self.progress(process)
        if p is None or not p.total_paginas:
            return None
        return round(p.pagina_atual / p.total_paginas * 100, 1)
