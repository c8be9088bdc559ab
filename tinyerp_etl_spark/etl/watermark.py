"""Watermark resolution + storage — the reference's incremental state.

Re-expresses the reference's ``determinar_data_filtro_inteligente``
chain (ref tiny_api_v2_cliente.py:160-181) and the watermark store
(``script_ultima_execucao``, ref :90, :107-129):

1. stored watermark exists → use it **+1 second** (exclusive bound,
   ref :113),
2. …but never older than ``safety_days`` (60-day clamp, ref :49,
   :164-167),
3. no watermark but the target table has data → synthetic bootstrap
   from MAX(business date) + 1 day at midnight UTC (ref :146-158,
   :172-177),
4. nothing at all → cold start at now − ``safety_days`` (ref
   :179-181); some processes use a fixed shorter lookback (stock:
   29 days, ref :330-331) via the ``cold_start_days`` override.

Watermarks are per-process scalars — control state, not data — so the
resolution logic is driver-side Python on purpose; only the synthetic
bootstrap's MAX runs distributed. The store is one JSON document
(process → ISO-8601 UTC timestamp), replaced atomically on every
commit, so reading or committing a watermark runs no Spark job. A
commit reads and replaces the whole document under the store's lock,
so concurrent sync steps sharing one store keep each other's rows;
reads take no lock. Commit semantics mirror the reference: the
committed timestamp is the *step start time* (ref :326, :363) so
in-flight changes are re-read next run — at-least-once, made
exactly-once-effective by the idempotent MERGE sink (etl.merge).
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from tinyerp_etl_spark.etl.table_store import read_json, write_atomic

SAFETY_DAYS_DEFAULT = 60  # DIAS_JANELA_SEGURANCA (ref :49)


class WatermarkStore:
    """Per-process watermarks in one JSON file (ref table :90).

    The store never touches Spark: ``spark`` is accepted for the callers'
    uniform ``(spark, path)`` construction and not used.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.path = path
        self._lock = threading.Lock()  # held from a commit's load to its write

    def get(self, process: str) -> datetime | None:
        ts = (read_json(self.path) or {}).get(process)
        return None if ts is None else datetime.fromisoformat(ts)

    def commit(self, process: str, ts: datetime) -> None:
        """Upsert (process, ts) — the ON CONFLICT DO UPDATE at ref :122-123."""
        with self._lock:
            rows = read_json(self.path) or {}
            rows[process] = ts.astimezone(timezone.utc).isoformat()
            write_atomic(self.path, json.dumps(rows, sort_keys=True))


def resolve_filter_timestamp(
    stored: datetime | None,
    max_business_ts: datetime | None,
    now: datetime,
    safety_days: int = SAFETY_DAYS_DEFAULT,
    cold_start_days: int | None = None,
) -> datetime:
    """The reference's watermark → filter-date decision chain (:160-181).

    ``max_business_ts`` is MAX(business date) of the already-loaded
    table (op #17), used only for the synthetic bootstrap.
    ``cold_start_days`` overrides the cold-start lookback (stock uses
    a fixed 29 days, ref :331).
    """
    now = now.astimezone(timezone.utc)
    clamp_floor = now - timedelta(days=safety_days)
    if stored is not None:
        candidate = stored.astimezone(timezone.utc) + timedelta(seconds=1)  # ref :113
        return max(candidate, clamp_floor)  # 60-day clamp, ref :164-167
    if max_business_ts is not None:
        # synthetic: day after the newest loaded business date, at
        # midnight UTC (ref :146-158, :172-177)
        nxt = max_business_ts.astimezone(timezone.utc) + timedelta(days=1)
        candidate = nxt.replace(hour=0, minute=0, second=0, microsecond=0)
        return max(candidate, clamp_floor)
    lookback = cold_start_days if cold_start_days is not None else safety_days
    return now - timedelta(days=lookback)  # cold start, ref :179-181


def max_business_timestamp(df: DataFrame, date_text_col: str) -> datetime | None:
    """Chronological MAX over a Brazilian date-text column.

    The reference computes MAX over raw ``dd/mm/yyyy`` TEXT — a
    *lexicographic* max, which is chronologically wrong (e.g.
    '31/01/2024' > '01/12/2025'); see ref :131-144 and SURVEY.md §2
    op 17. We deliberately diverge: validate with the reference's
    regex + NULLIF (ref :133-134), then parse and take the
    chronological max.
    """
    from tinyerp_etl_spark.functions.coerce import br_timestamp, is_br_date, nullif_empty

    row = (
        df.filter(is_br_date(date_text_col))
        .select(F.max(br_timestamp(nullif_empty(date_text_col))).alias("mx"))
        .collect()[0]
    )
    mx = row["mx"]
    if mx is None:
        return None
    return mx.replace(tzinfo=timezone.utc) if mx.tzinfo is None else mx
