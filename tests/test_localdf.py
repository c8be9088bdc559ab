"""local_df must be value-identical to the classic createDataFrame
path on every control-plane type — it replaces it in hot commit
paths, so any coercion difference would silently change persisted
artifacts."""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tinyerp_etl_spark.functions.localdf import local_df

RICH = StructType(
    [
        StructField("a", LongType()),
        StructField("b", DoubleType()),
        StructField("c", StringType()),
        StructField("d", DecimalType(38, 0)),
        StructField("e", ArrayType(IntegerType())),
        StructField("f", TimestampType()),
        StructField("g", BooleanType()),
    ]
)

ROWS = [
    (
        1,
        1.5,
        "x",
        decimal.Decimal(10**30),
        [1, 2, 3],
        datetime.datetime(2024, 1, 2, 3, 4, 5),
        True,
    ),
    (None, None, None, None, None, None, None),
    (7, 2.5, "y", decimal.Decimal(-5), [], datetime.datetime(2020, 6, 7), False),
]


def test_matches_classic_path_on_rich_types(spark):
    classic = spark.createDataFrame(ROWS, RICH)
    fast = local_df(spark, ROWS, RICH)
    assert fast.schema == classic.schema
    assert fast.collect() == classic.collect()


def test_rows_align_by_field_name(spark):
    """Row objects from a differently-ordered projection must land in
    schema order, not positional order."""
    schema = StructType(
        [StructField("x", LongType()), StructField("y", StringType())]
    )
    rows = [Row(y="b", x=2), Row(y="a", x=1)]
    got = local_df(spark, rows, schema).collect()
    assert [(r["x"], r["y"]) for r in got] == [(2, "b"), (1, "a")]


def test_empty_rows(spark):
    df = local_df(spark, [], RICH)
    assert df.schema == RICH and df.count() == 0


def test_empty_rows_start_no_job(spark):
    """An empty local_df is a local relation like a non-empty one:
    collecting it starts no Spark job."""
    sc = spark.sparkContext
    df = local_df(spark, [], RICH)
    sc.setJobGroup("empty-local-df", "collect of an empty local_df")
    try:
        assert df.collect() == []
        assert list(sc.statusTracker().getJobIdsForGroup("empty-local-df")) == []
    finally:
        sc.setJobGroup(None, None)


def test_write_has_no_python_eval(spark, tmp_path):
    """The point of the helper: the plan must be Arrow/LocalRelation
    JVM-side — no Python evaluation node, so a 1-row commit costs one
    task, not a defaultParallelism fan of Python workers."""
    df = local_df(spark, [(1, "a")], "id LONG, s STRING")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_string_schema_accepted(spark):
    got = local_df(spark, [(5, "z")], "id LONG, s STRING").collect()
    assert [(r["id"], r["s"]) for r in got] == [(5, "z")]


def test_property_matches_classic_on_random_rows(spark):
    """Hypothesis law: for random control-plane-shaped rows (ints,
    floats, strings, decimals, bools, Nones), local_df is
    value-identical to the classic createDataFrame path — the
    guarantee that lets it replace the classic path in commit code."""
    import decimal

    from hypothesis import given, settings, strategies as st

    schema = "a long, b double, c string, d boolean, e decimal(38,0)"

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.one_of(st.none(), st.integers(-(2**62), 2**62)),
                st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=64)),
                st.one_of(st.none(), st.text(max_size=12)),
                st.one_of(st.none(), st.booleans()),
                st.one_of(
                    st.none(),
                    st.decimals(min_value=-(10**20), max_value=10**20, places=0).map(
                        lambda d: decimal.Decimal(int(d))
                    ),
                ),
            ),
            min_size=0,
            max_size=12,
        )
    )
    def law(rows):
        fast = local_df(spark, rows, schema)
        classic = spark.createDataFrame(rows, schema)
        assert fast.schema == classic.schema
        assert sorted(map(tuple, fast.collect()), key=str) == sorted(
            map(tuple, classic.collect()), key=str
        )

    law()
