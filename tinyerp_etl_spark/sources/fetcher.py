"""Resilient page fetcher — retry/backoff/rate-limit source infra.

Re-expresses the reference's ``make_api_v2_request`` resilience ring
(ref tiny_api_v2_cliente.py:225-302) as transport-agnostic driver-side
infrastructure that spools pages to JSON files for the distributed
reader (sources.json_pages):

- exponential backoff ``delay = min(delay * 2, 30)`` (ref :236),
- HTTP 429 → fixed 30 s wait (RETRY_DELAY_429, ref :48, :290),
- other 4xx → hard fail (ref :291),
- API error code 35 → forced retry (ref :268-270),
- API error code 2 → critical token failure, no retry (ref :272),
- any other status-protocol fault (``json_pages.page_fault``) → hard fail,
- network/timeout errors retried up to the budget (ref :292-295),
- inter-page pacing (ref sleep(1) :367) owned by the caller loop.

The transport is injected (any ``(url, params) -> (status_code,
json_body)`` callable) so the layer is unit-testable without a network
and without the ``requests`` dependency.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from tinyerp_etl_spark.sources.json_pages import page_fault

DEFAULT_TIMEOUT_S = 90  # ref :47
RETRY_DELAY_429_S = 30  # ref :48
BACKOFF_CAP_S = 30  # ref :236
FORCED_RETRY_ERROR_CODE = "35"  # ref :268-270
CRITICAL_TOKEN_ERROR_CODE = "2"  # ref :272

Transport = Callable[[str, dict], tuple[int, dict]]


class FetchError(RuntimeError):
    pass


class CriticalTokenError(FetchError):
    """API error code 2: invalid/expired token — do not retry (ref :272)."""


def mask_token(token: str, keep: int = 5) -> str:
    """Log-hygiene masking (ref :230)."""
    return token[:keep] + "..."


def _backoff(delay: float) -> Iterator[float]:
    """Exponential retry delays: ``delay``, then ×2 up to the cap (ref :236)."""
    while True:
        yield delay
        delay = min(delay * 2, BACKOFF_CAP_S)


def fetch_page(
    transport: Transport,
    url: str,
    params: dict,
    max_retries: int = 3,
    initial_retry_delay: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """One page fetch with the reference's full retry protocol; returns
    the page's ``retorno`` object. Every failure raises."""
    delays = _backoff(initial_retry_delay)
    last_err: str = "exhausted retries"
    for _attempt in range(max_retries + 1):
        try:
            status, body = transport(url, params)
        except Exception as exc:  # network/timeout: retry (ref :292-295)
            last_err = f"transport error: {exc}"
            sleep(next(delays))
            continue

        if status == 429:  # rate limited: fixed long wait (ref :290)
            last_err = "HTTP 429"
            sleep(RETRY_DELAY_429_S)
            continue
        if 400 <= status < 500:  # other 4xx: hard fail (ref :291)
            raise FetchError(f"HTTP {status} for {url}")
        if status >= 500:  # server error: retry
            last_err = f"HTTP {status}"
            sleep(next(delays))
            continue

        if not isinstance(body, dict):
            raise FetchError(f"HTTP {status} body is not a JSON object: {body!r:.80}")
        retorno = body.get("retorno")
        if isinstance(retorno, dict) and retorno.get("status") != "OK":
            code = str(retorno.get("codigo_erro", ""))
            if code == CRITICAL_TOKEN_ERROR_CODE:
                raise CriticalTokenError("API token rejected (codigo_erro=2)")
            if code == FORCED_RETRY_ERROR_CODE:  # transient API hiccup
                last_err = "API codigo_erro=35"
                sleep(next(delays))
                continue
        if (fault := page_fault(retorno)) is not None:
            raise FetchError(fault)
        return retorno
    raise FetchError(f"retries exhausted for {url}: {last_err}")
