"""bench.py's totals are a pure function of the two tracks' timings and
the calibration bracket: fed the inputs recorded in BENCH_FULL.json it
must give back the recorded line, key order included. Importing
bench.py starts no Spark session."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location("_bench", ROOT / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_totals_reproduce_recorded_line():
    bench = _bench()
    rec = json.loads((ROOT / "BENCH_FULL.json").read_text())
    out = bench.headline_totals(
        rec["queries"],
        rec["queries_forced"],
        rec["host_calibration_start"],
        rec["host_calibration"],
        rec["sf"],
    )
    assert list(out.items()) == list(rec.items())


def test_headline_names_resolve():
    from tinyerp_etl_spark.plans.registry import all_queries

    bench = _bench()
    queries = all_queries()
    assert [n for n in bench.HEADLINE if n not in queries] == []


def test_unknown_headline_name_fails_before_spark(monkeypatch):
    """A headline name missing from the registry would silently shrink
    every total: main() refuses it before starting Spark."""
    bench = _bench()
    bench.HEADLINE["no_such_query"] = 14
    monkeypatch.setattr(bench, "get_spark", lambda *_: pytest.fail("Spark started"))
    with pytest.raises(SystemExit, match="no_such_query"):
        bench.main()
