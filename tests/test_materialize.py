"""The reliability seam: materialize() must change durability only,
never answers — and the reliable path must be loud about its
prerequisite instead of silently handing back non-durable blocks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tinyerp_etl_spark.functions.materialize import RELIABLE_CONF, materialize


def _frame(spark):
    return (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 37 % 101).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def _value_hash(df):
    cols = sorted(df.columns)
    return (
        df.select(F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
        .first()[0]
    )


def test_reliable_without_dir_raises(spark):
    """Asking for durability without a durable destination must fail
    fast, not quietly fall back to executor-local blocks."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set session-wide")
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        with pytest.raises(ValueError, match="checkpoint directory") as err:
            materialize(_frame(spark))
    finally:
        spark.conf.unset(RELIABLE_CONF)
    assert "spark.checkpoint.dir" in str(err.value)
    assert "setCheckpointDir" in str(err.value)


def test_reliable_and_local_paths_identical(spark, tmp_path):
    """Flip the switch, get the same rows — durability is the ONLY
    difference between the two strategies."""
    local = materialize(_frame(spark))
    h_local = _value_hash(local)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        spark.conf.set(RELIABLE_CONF, "true")
        reliable = materialize(_frame(spark))
        assert _value_hash(reliable) == h_local
        assert reliable.collect() == local.collect()
    finally:
        spark.conf.unset(RELIABLE_CONF)


def test_reliable_checkpoint_single_evaluation(spark, tmp_path):
    """The reliable path must evaluate the plan ONCE, not once for the
    action and again for the checkpoint write (the classic
    persist-before-RDD-checkpoint tax — Spark 4's Dataset.checkpoint
    doesn't pay it; this pins that, since per-iteration loops lean on
    materialize() being single-evaluation).

    The exact count is deterministic ONLY in this local[N] test
    session (no task retries, no speculation); accumulator updates in
    transformations over-count on re-executed tasks, so a retry would
    fail this pin spuriously rather than indicate a real regression."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt1x"))
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    u = F.udf(bump, LongType())
    df = spark.range(0, 100, 1, 4).select(u(F.col("id")).alias("id"))
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        out = materialize(df)
    finally:
        spark.conf.unset(RELIABLE_CONF)
    assert out.count() == 100
    assert acc.value == 100

