"""The shared fold harness (etl/fold.py): OCC retry semantics and the
fold_append skeleton's contracts, independent of any one store."""

from __future__ import annotations

import pytest

from tinyerp_etl_spark.etl.fold import fold_append, occ_fold
from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore


def test_occ_fold_retries_then_succeeds():
    calls = []

    def fold():
        calls.append(1)
        if len(calls) < 3:
            raise ConcurrentWriteError("lost the race")
        return "won"

    assert occ_fold(fold, occ_retries=3) == "won"
    assert len(calls) == 3


def test_occ_fold_gives_up_loudly():
    def fold():
        raise ConcurrentWriteError("always losing")

    with pytest.raises(ConcurrentWriteError):
        occ_fold(fold, occ_retries=2)


def test_occ_fold_does_not_swallow_other_errors():
    calls = []

    def fold():
        calls.append(1)
        raise ValueError("a real bug, not a race")

    with pytest.raises(ValueError):
        occ_fold(fold, occ_retries=3)
    assert len(calls) == 1  # no retry for non-OCC failures


def _store(spark, tmp_path):
    from pyspark.sql.types import StructType

    return TableStore(
        spark, str(tmp_path / "t"), StructType.fromDDL("k long, v string")
    )


def test_fold_append_skeleton_contracts(spark, tmp_path):
    store = _store(spark, tmp_path)
    rows = lambda *pairs: spark.createDataFrame(list(pairs), "k long, v string")
    anti = lambda stored, batch: batch.join(
        stored.select("k"), "k", "left_anti"
    )
    # an empty first batch creates no version
    empty = rows().limit(0)
    assert fold_append(store, empty, anti) == 0
    assert store.current_version() == 0
    # the first batch appends onto version 0
    v1 = fold_append(store, rows((1, "a"), (2, "b")), anti)
    assert v1 == 1
    # full replay is a version-preserving no-op
    assert fold_append(store, rows((1, "a"), (2, "b")), anti) == v1
    # partial replay appends only the fresh rows
    v2 = fold_append(store, rows((2, "b"), (3, "c")), anti)
    assert v2 == v1 + 1
    got = sorted((r["k"], r["v"]) for r in store.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_prematerialized_skips_harness_materialize(spark, tmp_path, monkeypatch):
    """A fresh_rows callback that must run an action on its result
    (the span fold's ingest-order probe) materializes it INSIDE the
    callback via prematerialized(); the harness must trust the marker
    instead of paying a second materialization — on an unmaterialized
    plan that second pass re-runs the whole batch-vs-store anti-join.
    An unmarked result still goes through the harness's materialize."""
    from tinyerp_etl_spark.etl import fold as fold_mod

    calls = []
    real = fold_mod.materialize

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(fold_mod, "materialize", counting)
    store = _store(spark, tmp_path)
    rows = lambda *pairs: spark.createDataFrame(list(pairs), "k long, v string")
    fold_append(store, rows((1, "a")), lambda s, b: b)

    def premarked(stored, batch):
        fresh = fold_mod.prematerialized(
            batch.join(stored.select("k"), "k", "left_anti")
        )
        assert fresh.count() == 1  # the callback's own action
        return fresh

    calls.clear()
    v = fold_append(store, rows((1, "a"), (2, "b")), premarked)
    assert v == 2
    assert len(calls) == 1  # prematerialized's own, none by the harness
    calls.clear()
    v = fold_append(
        store,
        rows((3, "c")),
        lambda s, b: b.join(s.select("k"), "k", "left_anti"),
    )
    assert v == 3
    assert len(calls) == 1  # unmarked result: the harness materializes
    got = sorted((r["k"], r["v"]) for r in store.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_fold_append_fresh_rows_exceptions_propagate(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    fold_append(store, df, lambda s, b: b)

    def raising(stored, batch):
        raise ValueError("contract breach")

    with pytest.raises(ValueError, match="contract breach"):
        fold_append(store, df, raising)
