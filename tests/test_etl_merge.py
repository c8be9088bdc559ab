"""MERGE / keep-latest / FK operators: semantics + idempotency properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from tinyerp_etl_spark.etl.merge import (
    cascade_delete,
    fk_orphans,
    keep_latest,
    merge_upsert,
    scd2_from_changelog,
    set_null_on_missing_parent,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_keep_latest_picks_max_version(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 3, "c"), (1, 2, "b"), (2, 1, "x")],
        "id int, version int, payload string",
    )
    out = keep_latest(df, ["id"], [F.col("version").desc()])
    assert _rows(out) == [(1, 3, "c"), (2, 1, "x")]


def test_merge_upsert_replaces_and_inserts(spark):
    existing = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "id int, payload string"
    )
    incoming = spark.createDataFrame(
        [(1, "new"), (3, "insert")], "id int, payload string"
    )
    out = merge_upsert(existing, incoming, ["id"])
    assert _rows(out) == [(1, "new"), (2, "keep"), (3, "insert")]


def test_merge_upsert_idempotent(spark):
    """Applying the same increment twice ≡ once (at-least-once safety)."""
    existing = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    inc = spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string")
    once = merge_upsert(existing, inc, ["id"])
    twice = merge_upsert(once, inc, ["id"])
    assert _rows(once) == _rows(twice)


def test_merge_upsert_increment_union_equivalence(spark):
    """merge(merge(T, I1), I2) ≡ merge(T, I1 ∪ I2) when keys disjoint."""
    t = spark.createDataFrame([(1, "a")], "id int, v string")
    i1 = spark.createDataFrame([(2, "b")], "id int, v string")
    i2 = spark.createDataFrame([(3, "c")], "id int, v string")
    seq = merge_upsert(merge_upsert(t, i1, ["id"]), i2, ["id"])
    combined = merge_upsert(t, i1.unionByName(i2), ["id"])
    assert _rows(seq) == _rows(combined)


def test_merge_upsert_keep_latest_within_increment(spark):
    existing = spark.createDataFrame([(1, 0, "orig")], "id int, ver int, v string")
    inc = spark.createDataFrame(
        [(1, 1, "mid"), (1, 2, "latest")], "id int, ver int, v string"
    )
    out = merge_upsert(existing, inc, ["id"], order_by=[F.col("ver").desc()])
    assert _rows(out) == [(1, 2, "latest")]


def test_replace_children_drops_stale_rows(spark):
    """Replaced parents lose ALL old children (even ones the increment
    no longer carries); untouched parents keep theirs."""
    from tinyerp_etl_spark.etl.merge import replace_children

    existing = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (2, 1, "x")],
        "order_id int, line int, v string",
    )
    incoming = spark.createDataFrame(
        [(1, 1, "a2")], "order_id int, line int, v string"
    )
    out = replace_children(existing, incoming, "order_id")
    assert _rows(out) == [(1, 1, "a2"), (2, 1, "x")]


def test_replace_children_empty_increment_is_noop(spark):
    from tinyerp_etl_spark.etl.merge import replace_children

    existing = spark.createDataFrame([(1, 1, "a")], "order_id int, line int, v string")
    empty = spark.createDataFrame([], "order_id int, line int, v string")
    assert _rows(replace_children(existing, empty, "order_id")) == [(1, 1, "a")]


def test_replace_children_idempotent(spark):
    from tinyerp_etl_spark.etl.merge import replace_children

    existing = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "x")], "order_id int, line int, v string"
    )
    inc = spark.createDataFrame(
        [(1, 1, "a2"), (1, 2, "new")], "order_id int, line int, v string"
    )
    once = replace_children(existing, inc, "order_id")
    twice = replace_children(once, inc, "order_id")
    assert _rows(once) == _rows(twice)


def test_replace_children_shared_lineage(spark):
    """existing and incoming derived from one DataFrame (as in
    replace_order_items) still anti-join as two distinct sides."""
    from tinyerp_etl_spark.etl.merge import replace_children

    base = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "x"), (3, 1, "y")],
        "order_id int, line int, v string",
    )
    existing = base.filter(F.col("order_id") <= 2)
    incoming = base.filter(
        (F.col("order_id") != 2) & (F.col("line") == 1)
    ).withColumn("v", F.upper("v"))
    out = replace_children(existing, incoming, "order_id")
    assert _rows(out) == [(1, 1, "A"), (2, 1, "x"), (3, 1, "Y")]


def test_fk_orphans_and_cascade(spark):
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99)], "cid int, fk int"
    )
    assert _rows(fk_orphans(child, parent, "fk", "pk")) == [(12, 99)]
    assert _rows(cascade_delete(child, parent, "fk", "pk")) == [(10, 1), (11, 2)]


def test_set_null_on_missing_parent(spark):
    parent = spark.createDataFrame([(1,)], "pk int")
    child = spark.createDataFrame([(10, 1), (11, 5)], "cid int, fk int")
    out = set_null_on_missing_parent(child, parent, "fk", "pk")
    assert _rows(out) == [(10, 1), (11, None)]


def test_scd2_collapses_runs_and_versions(spark):
    log = spark.createDataFrame(
        [
            (1, "A", 10, 1),
            (1, "A", 20, 2),  # same value → same run
            (1, "B", 30, 3),
            (1, "A", 40, 4),  # A again → NEW run, not merged with v1
            (2, "X", 10, 5),
        ],
        "k int, attr string, ts int, id int",
    )
    out = scd2_from_changelog(log, "k", "attr", "ts", "id")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [
        (1, "A", 10, 30, 1, False),
        (1, "A", 40, None, 3, True),
        (1, "B", 30, 40, 2, False),
        (2, "X", 10, None, 1, True),
    ]


def test_scd2_null_attr_runs_collapse(spark):
    # NULL is a value: a run of NULLs is one interval, including when
    # the history STARTS with NULL (the eqNullSafe trap).
    log = spark.createDataFrame(
        [(1, None, 10, 1), (1, None, 20, 2), (1, "A", 30, 3)],
        "k int, attr string, ts int, id int",
    )
    out = scd2_from_changelog(log, "k", "attr", "ts", "id")
    rows = {tuple(r) for r in out.collect()}
    assert rows == {(1, None, 10, 30, 1, False), (1, "A", 30, None, 2, True)}


def test_scd2_tiebreak_orders_equal_timestamps(spark):
    log = spark.createDataFrame(
        [(1, "B", 10, 2), (1, "A", 10, 1)],
        "k int, attr string, ts int, id int",
    )
    out = scd2_from_changelog(log, "k", "attr", "ts", "id")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, "A", 10, 10, 1, False), (1, "B", 10, None, 2, True)]
