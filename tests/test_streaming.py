"""Structured Streaming mirror: merge sink, windowed agg, stateful op.

Each test drains a file-source stream with availableNow (the
reference's "drain what's there" cron-step semantics) and checks the
result against the equivalent batch computation — stream ≡ batch.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.sources.catalog import TABLES, load_table
from tinyerp_etl_spark.streaming.stream_pipeline import (
    read_events_stream,
    run_stream_to_merge_sink,
    run_windowed_stream,
    tumbling_counts,
)

WINDOWED_SCHEMA = (
    "window_start timestamp, event_type string, n_events bigint, sum_value double"
)


@pytest.fixture
def stream_dir(sf_dir, tmp_path):
    """Events parquet staged as a stream-source directory."""
    d = tmp_path / "stream_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "batch0.parquet")
    return str(d)


def test_nanos_events_stream_matches_batch(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads the same through the batch
    loader and the stream: one schema, one ns -> us truncation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events.parquet"
    d.mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["view", "click"],
                "value": [1.5, 2.5],
                "props": [None, "{}"],
            }
        ),
        d / "part0.parquet",
    )
    batch = load_table(spark, str(tmp_path), "events")
    assert batch.schema == TABLES["events"]
    got: list = []
    (
        read_events_stream(spark, str(d))
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(got) == sorted(batch.collect())
    assert [r["ts"].microsecond for r in sorted(got)] == [123456, 0]


def test_stream_merge_sink_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    stream = read_events_stream(spark, stream_dir)
    store = TableStore(spark, str(tmp_path / "tbl"), TABLES["events"])
    run_stream_to_merge_sink(
        spark, stream, store, ["event_id"], str(tmp_path / "ckpt")
    )
    batch = load_table(spark, sf_dir, "events")
    assert store.read().count() == batch.count()
    # value-level check on a sample key
    s = store.read().filter(F.col("event_id") == 1).collect()
    b = batch.filter(F.col("event_id") == 1).collect()
    assert s == b


def test_stream_restart_is_incremental(spark, sf_dir, stream_dir, tmp_path):
    """Second availableNow run with no new files is a no-op; a new file
    is picked up incrementally (checkpoint offsets ≡ ref page resume)."""
    store = TableStore(spark, str(tmp_path / "tbl"), TABLES["events"])
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_merge_sink(
        spark, read_events_stream(spark, stream_dir), store, ["event_id"], ckpt
    )
    n1 = store.read().count()
    v1 = store.current_version()

    # drain again: offsets say nothing new
    run_stream_to_merge_sink(
        spark, read_events_stream(spark, stream_dir), store, ["event_id"], ckpt
    )
    assert store.read().count() == n1

    # add a new file with synthetic late events (ids beyond the max)
    late = (
        load_table(spark, sf_dir, "events")
        .limit(10)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late_out"))
    for f in os.listdir(tmp_path / "late_out"):
        if f.endswith(".parquet"):
            shutil.copy(tmp_path / "late_out" / f, os.path.join(stream_dir, "batch1.parquet"))
    run_stream_to_merge_sink(
        spark, read_events_stream(spark, stream_dir), store, ["event_id"], ckpt
    )
    assert store.read().count() == n1 + 10


def test_windowed_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    stream = read_events_stream(spark, stream_dir)
    store = TableStore(
        spark,
        str(tmp_path / "win_tbl"),
        spark.createDataFrame([], WINDOWED_SCHEMA).schema,
    )
    run_windowed_stream(spark, stream, store, str(tmp_path / "win_ckpt"))
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in store.read().collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_counts(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_sliding_windowed_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Sliding 1h/30m windows: streaming result ≡ batch twin (which is
    itself oracle-checked via events_sliding_windows)."""
    from tinyerp_etl_spark.plans.streaming_queries import events_sliding_windows

    stream = read_events_stream(spark, stream_dir)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    store = TableStore(
        spark,
        str(tmp_path / "slide_tbl"),
        spark.createDataFrame([], WINDOWED_SCHEMA).schema,
    )

    def sink(batch_df, batch_id):
        from tinyerp_etl_spark.etl.merge import merge_upsert

        store.commit(
            merge_upsert(store.read(), batch_df, ["window_start", "event_type"])
        )

    (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in store.read().collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_sliding_windows(spark, sf_dir).collect()
    }
    assert got == want


def test_session_windowed_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Session windows (5 min gap, user_id < 50): stream ≡ batch twin
    (batch twin is oracle-checked as events_session_windows). Complete
    output mode: session windows only emit once finalized; with
    availableNow over a finite source every session finalizes."""
    from tinyerp_etl_spark.plans.streaming_queries import events_session_windows

    stream = read_events_stream(spark, stream_dir).filter(F.col("user_id") < 50)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    out_dir = tmp_path / "sess_rows"
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    (
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {(r["user_id"], r["session_start"]): r["n_events"] for r in collected}
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in events_session_windows(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark, sf_dir, stream_dir, tmp_path):
    """dropDuplicatesWithinWatermark over a source containing the same
    events file twice: every event arrives as a duplicate pair and the
    streaming dedup must emit each exactly once (state pruned by the
    watermark — the scalable form of streaming exact dedup)."""
    shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/batch_dup.parquet")
    stream = read_events_stream(spark, stream_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    seen: list[int] = []

    def sink(batch_df, batch_id):
        seen.extend(r["event_id"] for r in batch_df.select("event_id").collect())

    (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    n_distinct = load_table(spark, sf_dir, "events").count()
    assert len(seen) == n_distinct
    assert len(set(seen)) == n_distinct


def test_stream_stream_join_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Stream-stream inner join with watermarks on both sides.

    purchases ⋈ views per user within [view_ts, view_ts + 10 min] —
    the stateful two-sided join only Structured Streaming can run
    incrementally (state bounded by the watermarks + time-range
    condition). availableNow over a finite source must reproduce the
    batch join exactly.
    """
    from pyspark.sql.functions import expr

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        views = df.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        return purchases, views

    sp, sv = split(read_events_stream(spark, stream_dir))
    joined = sp.withWatermark("p_ts", "30 minutes").join(
        sv.withWatermark("v_ts", "30 minutes"),
        expr(
            "p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 10 minutes"
        ),
    )
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(
            (r["p_id"], r["v_id"]) for r in batch_df.select("p_id", "v_id").collect()
        )

    (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    bp, bv = split(load_table(spark, sf_dir, "events"))
    want = {
        (r["p_id"], r["v_id"])
        for r in bp.join(
            bv,
            expr(
                "p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 10 minutes"
            ),
        )
        .select("p_id", "v_id")
        .collect()
    }
    assert set(collected) == want
    assert len(collected) == len(want)  # no duplicate emissions


def test_stateful_user_profiles(spark, sf_dir, stream_dir, tmp_path):
    from tinyerp_etl_spark.streaming.stateful import (
        USER_PROFILE_SCHEMA,
        user_profiles_stateful,
    )

    stream = read_events_stream(spark, stream_dir)
    profiles = user_profiles_stateful(stream)
    store = TableStore(spark, str(tmp_path / "prof_tbl"), USER_PROFILE_SCHEMA)

    def sink(batch_df, batch_id):
        from tinyerp_etl_spark.etl.merge import merge_upsert

        store.commit(merge_upsert(store.read(), batch_df, ["user_id"]))

    (
        profiles.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "prof_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
            F.max("ts").alias("last_seen"),
        )
    )
    got = {
        r["user_id"]: (r["n_events"], r["sum_value_cents"], r["last_seen"])
        for r in store.read().collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["sum_value_cents"], r["last_seen"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_maintained_rollup_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """foreachBatch folds each micro-batch into the materialized rollup
    (etl/rollup.py); draining the stream must land on exactly the state
    a full batch recompute produces — the streaming face of the
    incremental ≡ full law."""
    from pyspark.sql.types import StructType

    from tinyerp_etl_spark.etl.rollup import (
        merge_rollup,
        rollup_increment,
        rollup_view,
    )

    schema = StructType.fromDDL(
        "event_type string, n_rows bigint, sum_cents decimal(38,0)"
    )
    store = TableStore(spark, str(tmp_path / "rollup"), schema)
    stream = read_events_stream(spark, stream_dir)

    def sink(batch_df, _bid):
        cur = store.read() if store.exists() else None
        part = rollup_increment(batch_df, ["event_type"], "value")
        store.commit(merge_rollup(cur, part, ["event_type"]))

    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    got = sorted(tuple(r) for r in rollup_view(store.read()).collect())
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        tuple(r)
        for r in rollup_view(rollup_increment(ev, ["event_type"], "value")).collect()
    )
    assert got == want


def test_stream_dedup_within_watermark_equals_batch_distinct(
    spark, sf_dir, stream_dir, tmp_path
):
    """A replayed (duplicated) event stream deduped with
    dropDuplicatesWithinWatermark lands exactly the batch distinct-by-key
    result: every event_id once, despite each file being delivered twice."""
    import os
    import shutil

    from tinyerp_etl_spark.streaming.stream_pipeline import (
        dedup_events_stream,
        read_events_stream,
        run_stream_to_merge_sink,
    )

    # stage the events file twice — an at-least-once source replay
    dup_dir = str(tmp_path / "dup_stream")
    os.makedirs(dup_dir)
    for i, f in enumerate(sorted(os.listdir(stream_dir))):
        shutil.copy(os.path.join(stream_dir, f), os.path.join(dup_dir, f"a{i}.parquet"))
        shutil.copy(os.path.join(stream_dir, f), os.path.join(dup_dir, f"b{i}.parquet"))

    events = load_table(spark, sf_dir, "events")
    store = TableStore(spark, str(tmp_path / "dedup_tbl"), events.schema)
    stream = dedup_events_stream(read_events_stream(spark, dup_dir))
    run_stream_to_merge_sink(
        spark, stream, store, ["event_id"], str(tmp_path / "dedup_ckpt")
    )
    assert store.read().count() == events.count()
    got = {r["event_id"] for r in store.read().select("event_id").collect()}
    want = {r["event_id"] for r in events.select("event_id").collect()}
    assert got == want


def test_stream_dedup_resumes_after_restart_without_duplicates(
    spark, sf_dir, stream_dir, tmp_path
):
    """Kill/restart semantics for the dedup ingest: a second availableNow
    run from the same checkpoint sees (a) a replayed copy of an already-
    processed file and (b) a genuinely new file. Replays must not land
    twice (dedup state + idempotent MERGE survive the restart); new
    events must land exactly once."""
    import os
    import shutil

    from tinyerp_etl_spark.streaming.stream_pipeline import (
        dedup_events_stream,
        read_events_stream,
        run_stream_to_merge_sink,
    )

    src = str(tmp_path / "restart_stream")
    os.makedirs(src)
    first = sorted(os.listdir(stream_dir))[0]
    shutil.copy(os.path.join(stream_dir, first), os.path.join(src, "a0.parquet"))

    events = load_table(spark, sf_dir, "events")
    store = TableStore(spark, str(tmp_path / "restart_tbl"), events.schema)
    ckpt = str(tmp_path / "restart_ckpt")

    # run 1: process the file, then the query stops (availableNow)
    run_stream_to_merge_sink(
        spark, dedup_events_stream(read_events_stream(spark, src)), store,
        ["event_id"], ckpt,
    )
    n1 = store.read().count()
    assert n1 > 0

    # "restart": replay the same file under a new name + one new file
    shutil.copy(os.path.join(stream_dir, first), os.path.join(src, "replay.parquet"))
    # new events must sit ABOVE the restored watermark (checkpoint
    # carries run 1's max(ts) - delay forward), else they are late data
    fresh = (
        events.limit(10)
        .withColumn("event_id", F.col("event_id") + 20_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS"))
    )
    out = tmp_path / "fresh_out"
    fresh.coalesce(1).write.mode("overwrite").parquet(str(out))
    for f in os.listdir(out):
        if f.endswith(".parquet"):
            shutil.copy(out / f, os.path.join(src, "b0.parquet"))

    run_stream_to_merge_sink(
        spark, dedup_events_stream(read_events_stream(spark, src)), store,
        ["event_id"], ckpt,
    )
    assert store.read().count() == n1 + 10
    # every event_id exactly once
    dup = (
        store.read().groupBy("event_id").count().filter(F.col("count") > 1)
    )
    assert dup.isEmpty()


def test_stream_stream_attribution_join_equals_batch(
    spark, sf_dir, stream_dir, tmp_path
):
    """Watermarked stream-stream interval join (view->purchase within
    the horizon) drained with availableNow == the identical batch
    inner join — the lambda-architecture collapse for attribution."""
    from tinyerp_etl_spark.streaming.stream_pipeline import (
        attribution_stream_stream_join,
        read_events_stream,
    )

    events_stream = read_events_stream(spark, stream_dir)
    views = events_stream.filter(F.col("event_type") == "view")
    purchases = events_stream.filter(F.col("event_type") == "purchase")
    joined = attribution_stream_stream_join(
        views, purchases, horizon="1 hour", lateness="30 minutes"
    )

    out = str(tmp_path / "attr_out")
    (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["view_id"], r["purchase_id"], r["latency_sec"])
        for r in spark.read.parquet(out).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["view_id"], r["purchase_id"], r["latency_sec"])
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts > view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        )
        .select(
            "view_id",
            "purchase_id",
            (
                F.col("purchase_ts").cast("long") - F.col("view_ts").cast("long")
            ).alias("latency_sec"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0  # the fixture data must actually attribute


def test_merge_sink_occ_survives_concurrent_writer(
    spark, sf_dir, stream_dir, tmp_path
):
    """A concurrent commit landing between a batch's read and commit
    must trigger the sink's OCC retry (re-read + re-merge), not lose
    the concurrent writer's rows."""
    from tinyerp_etl_spark.etl.merge import merge_upsert
    from tinyerp_etl_spark.streaming.stream_pipeline import (
        read_events_stream,
        run_stream_to_merge_sink,
    )

    events = load_table(spark, sf_dir, "events")
    store = TableStore(spark, str(tmp_path / "occ_tbl"), TABLES["events"])
    # a concurrent writer's pre-existing rows, ids disjoint from the stream
    backfill = events.limit(5).withColumn(
        "event_id", F.col("event_id") + 90_000_000
    )
    store.commit(backfill, n_files=1)

    # monkeypatch one mid-sink interleave: the FIRST commit attempt of
    # the sink sees the table advance under it
    real_commit = store.commit
    interleaved = {"done": False}

    def racing_commit(df, *a, **kw):
        if not interleaved["done"]:
            interleaved["done"] = True
            # concurrent writer lands another backfill row first
            extra = events.limit(1).withColumn(
                "event_id", F.col("event_id") + 91_000_000
            )
            real_commit(merge_upsert(store.read(), extra, ["event_id"]))
        return real_commit(df, *a, **kw)

    store.commit = racing_commit
    try:
        run_stream_to_merge_sink(
            spark,
            read_events_stream(spark, stream_dir),
            store,
            ["event_id"],
            str(tmp_path / "occ_ckpt"),
        )
    finally:
        store.commit = real_commit

    n_events = events.count()
    # all stream rows + 5 backfill + 1 concurrent row survived
    assert store.read().count() == n_events + 6
    assert (
        store.read().filter(F.col("event_id") >= 90_000_000).count() == 6
    )


def test_stream_stream_join_state_survives_restart(spark, sf_dir, tmp_path):
    """Join state must persist across availableNow restarts: views
    buffered in run 1 still match purchases arriving in run 2, and the
    union of both runs' outputs equals the batch join exactly (the
    watermark eviction bound horizon+lateness >= horizon guarantees no
    valid pair can be evicted early)."""
    import os

    from tinyerp_etl_spark.streaming.stream_pipeline import (
        attribution_stream_stream_join,
        read_events_stream,
    )

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # split the ORIGINAL parquet by median ts with pyarrow, preserving
    # the file's physical timestamp type (a Spark rewrite would change
    # it and break the stream reader's unit sniffing)
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ts = tbl.column("ts")
    split_ts = pc.quantile(ts.cast("int64"), q=0.5).to_pylist()[0]
    early_tbl = tbl.filter(pc.less(ts.cast("int64"), int(split_ts)))
    late_tbl = tbl.filter(pc.greater_equal(ts.cast("int64"), int(split_ts)))
    assert early_tbl.num_rows > 0 and late_tbl.num_rows > 0

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ssj_src")
    os.makedirs(src)
    pq.write_table(early_tbl, os.path.join(src, "a0.parquet"))

    out = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")

    def drain():
        stream = read_events_stream(spark, src)
        joined = attribution_stream_stream_join(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
            horizon="1 hour",
            lateness="30 minutes",
        )
        (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # run 1: early half only
    n1 = spark.read.parquet(out).count()

    pq.write_table(late_tbl, os.path.join(src, "b0.parquet"))
    drain()  # run 2: late half; must join against run 1's buffered state

    got = {
        (r["view_id"], r["purchase_id"])
        for r in spark.read.parquet(out).collect()
    }
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["view_id"], r["purchase_id"])
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts > view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want
    assert len(got) > n1  # run 2 contributed pairs (incl. cross-file state)


def test_stream_to_bm25_index_equals_batch_build(spark, sf_dir, tmp_path):
    """Index-at-ingest: draining a document stream through
    run_stream_to_bm25_index (micro-batch folds, maxFilesPerTrigger=1)
    must land the SAME index as one offline save_bm25_index over the
    corpus — scores and stats bit-identical — and a full at-least-once
    replay (fresh checkpoint, same files) must be a no-op."""
    import os
    import shutil

    from tinyerp_etl_spark.operators.bm25_index import (
        bm25i_topk_indexed,
        load_bm25_index,
        save_bm25_index,
    )
    from tinyerp_etl_spark.operators.ivf_index import corpus_fingerprint
    from tinyerp_etl_spark.streaming.stream_pipeline import (
        run_stream_to_bm25_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # stage as two stream files so availableNow folds >1 micro-batch
    docs_dir = str(tmp_path / "docs_stream")
    os.makedirs(docs_dir)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "half0")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "half1")
    )
    for i in range(2):
        for f in os.listdir(tmp_path / f"half{i}"):
            if f.endswith(".parquet"):
                shutil.copy(
                    tmp_path / f"half{i}" / f,
                    os.path.join(docs_dir, f"batch{i}.parquet"),
                )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    idx_path = str(tmp_path / "bm25_stream")
    run_stream_to_bm25_index(
        spark, stream, idx_path, str(tmp_path / "ckpt_a")
    )

    full_path = str(tmp_path / "bm25_full")
    save_bm25_index(spark, full_path, docs)
    fp = corpus_fingerprint(docs, "doc_id", "text")
    got = load_bm25_index(spark, idx_path, expect_fingerprint=fp)
    want = load_bm25_index(spark, full_path, expect_fingerprint=fp)
    assert got is not None and want is not None
    (gp, gstats), (wp, wstats) = got, want
    assert gstats == wstats
    terms = ["the", "data", "model"]
    assert (
        bm25i_topk_indexed(gp, gstats, terms, k=20).collect()
        == bm25i_topk_indexed(wp, wstats, terms, k=20).collect()
    )

    # full replay: a FRESH checkpoint re-delivers every file; the
    # skip-existing fold absorbs it — index version unchanged
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.operators.bm25_index import BM25_POSTINGS_SCHEMA

    v_before = TableStore(
        spark, f"{idx_path}/postings", BM25_POSTINGS_SCHEMA
    ).current_version()
    replay = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    run_stream_to_bm25_index(
        spark, replay, idx_path, str(tmp_path / "ckpt_b")
    )
    v_after = TableStore(
        spark, f"{idx_path}/postings", BM25_POSTINGS_SCHEMA
    ).current_version()
    assert v_after == v_before
    gp2, gstats2 = load_bm25_index(spark, idx_path, expect_fingerprint=fp)
    assert gstats2 == gstats


def test_stream_to_ivf_corpus_equals_batch_layout(spark, sf_dir, tmp_path):
    """Streaming assignment-at-ingest: draining an embedding stream
    through run_stream_to_ivf_corpus (narrow per-row assignment, native
    partitioned file sink) must produce exactly the batch ivf_assign
    layout — same (vec_id, list_id) rows, hive list_id= partition dirs
    — and a rerun from the same checkpoint must add nothing (the file
    sink's exactly-once metadata log)."""
    import os as _os

    from tinyerp_etl_spark.operators.similarity import ivf_assign, train_kmeans
    from tinyerp_etl_spark.streaming.stream_pipeline import (
        run_stream_to_ivf_corpus,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = train_kmeans(emb)

    src = str(tmp_path / "emb_stream")
    _os.makedirs(src)
    for i, pred in enumerate(
        (F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1)
    ):
        out = tmp_path / f"part{i}"
        emb.filter(pred).coalesce(1).write.parquet(str(out))
        for f in _os.listdir(out):
            if f.endswith(".parquet"):
                _os.rename(out / f, _os.path.join(src, f"b{i}.parquet"))

    corpus = str(tmp_path / "ivf_corpus")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_ivf_corpus(spark, stream, corpus, ckpt, cents)

    want = {
        (r["vec_id"], r["list_id"])
        for r in ivf_assign(emb, centroids=cents)
        .select("vec_id", "list_id")
        .collect()
    }
    back = spark.read.parquet(corpus)
    got = {
        (r["vec_id"], r["list_id"])
        for r in back.select("vec_id", "list_id").collect()
    }
    assert got == want and len(got) > 0
    # hive layout: list_id=N partition dirs on disk
    assert any(d.startswith("list_id=") for d in _os.listdir(corpus))
    # a pruned read keeps its PartitionFilters
    pruned = back.filter(F.col("list_id") == sorted({l for _, l in want})[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in ln and "list_id" in ln
        for ln in plan.splitlines()
    ), plan

    # rerun from the SAME checkpoint: nothing new, no duplicates
    rerun = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_ivf_corpus(spark, rerun, corpus, ckpt, cents)
    assert spark.read.parquet(corpus).count() == len(want)


def test_stream_to_pq_codes_reproduces_ivfpq_scores(spark, sf_dir, tmp_path):
    """Streaming IVF-PQ ingest: draining an embedding stream through
    run_stream_to_pq_codes must land the exact batch pq_encode_wide
    rows in list_id= partitions, a replay from the same checkpoint
    must add nothing, and — the point of the table — ADC scores
    recomputed FROM THE STORED CODES (join to a codeword LUT, no
    float vectors anywhere) must equal the in-plan ivfpq_topk ranking
    double for double."""
    import os as _os

    from tinyerp_etl_spark.operators import pq_index as P
    from tinyerp_etl_spark.operators.similarity import (
        probe_lists,
        quantize_vector,
        train_kmeans,
    )
    from tinyerp_etl_spark.streaming.stream_pipeline import (
        run_stream_to_pq_codes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = train_kmeans(emb, k=3, iters=1)
    book = P.train_pq(emb, m=2, ks=3, iters=1)

    src = str(tmp_path / "emb_stream")
    _os.makedirs(src)
    out = tmp_path / "part0"
    emb.coalesce(1).write.parquet(str(out))
    for f in _os.listdir(out):
        if f.endswith(".parquet"):
            _os.rename(out / f, _os.path.join(src, "b0.parquet"))

    codes_dir = str(tmp_path / "pq_codes")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)
        run_stream_to_pq_codes(spark, stream, codes_dir, ckpt, book, cents)

    drain()
    back = spark.read.parquet(codes_dir)
    want = {
        tuple(r) for r in P.pq_encode_wide(emb, book, cents).collect()
    }
    got = {
        tuple(r)
        for r in back.select(
            "vec_id", "list_id", "code_1", "code_2"
        ).collect()
    }
    assert got == want and len(got) > 0
    assert any(d.startswith("list_id=") for d in _os.listdir(codes_dir))
    drain()  # replay: exactly-once file sink adds nothing
    assert spark.read.parquet(codes_dir).count() == len(want)

    # ADC from the STORED table only: probe-prune on list_id, map each
    # code to its (query-dot, norm²) via a driver LUT, sum, rank —
    # must equal the in-plan ivfpq ranking exactly
    qticks = quantize_vector(
        emb.filter(F.col("vec_id") == 0).first()["embedding"]
    )
    qn2 = float(sum(t * t for t in qticks))
    probes = [int(p) for p in probe_lists(cents, qticks, 2)]
    by = P._by_subspace(book)
    bounds = P._sub_bounds(len(qticks), len(by))
    lut = {
        (s, cid): (
            sum(a * b for a, b in zip(ticks, qticks[lo - 1 : lo - 1 + w])),
            sum(t * t for t in ticks),
        )
        for (s, (lo, w)) in zip(sorted(by), bounds)
        for cid, ticks in by[s]
    }
    stored = []
    for r in back.filter(
        F.col("list_id").isin(probes) & (F.col("vec_id") != 0)
    ).collect():
        num = lut[(1, r["code_1"])][0] + lut[(2, r["code_2"])][0]
        xn2 = lut[(1, r["code_1"])][1] + lut[(2, r["code_2"])][1]
        stored.append(
            (r["vec_id"], float(num) / (xn2 * qn2) ** 0.5)
        )
    stored.sort(key=lambda t: (-t[1], t[0]))
    inplan = [
        (r["vec_id"], r["score"])
        for r in P.ivfpq_topk(
            emb, 0, k=len(stored), nprobe=2, centroids=cents, codebook=book
        ).collect()
    ]
    assert [v for v, _ in stored] == [v for v, _ in inplan]
    for (_, a), (_, b) in zip(stored, inplan):
        assert abs(a - b) < 1e-12


def test_streaming_c4_line_filter_equals_batch(spark, sf_dir, tmp_path):
    """The C4 line-cleaning front door streams UNCHANGED: the
    pipeline core is a stateless map-side projection (zero shuffles,
    no watermark, no state store), so the same definition drains a
    documents file-stream in append mode and reproduces the batch
    face row-for-row — the streaming-ingest curation story for a
    crawl that arrives continuously."""
    from tinyerp_etl_spark.plans.llm_ops import (
        _c4_line_pipeline,
        c4_line_filter_docs,
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "batch0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(d))
        .select("doc_id", "text")
    )
    out = tmp_path / "c4_out"
    (
        _c4_line_pipeline(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    batch = sorted(
        tuple(r) for r in c4_line_filter_docs(spark, sf_dir).collect()
    )
    assert streamed == batch


def test_streaming_c4_line_filter_restart_is_incremental(
    spark, sf_dir, tmp_path
):
    """A second availableNow drain from the same checkpoint processes
    ONLY the newly-arrived file: the sink ends with exactly old+new
    verdicts and the first batch's rows are not recomputed (same
    checkpoint discipline as the merge-sink test, on the curation
    path)."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.plans.llm_ops import _c4_line_pipeline

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "batch0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    out, ckpt = tmp_path / "c4_out", tmp_path / "ckpt"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(d))
            .select("doc_id", "text")
        )
        (
            _c4_line_pipeline(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    n0 = spark.read.parquet(str(out)).count()
    # shifted copy arrives: new doc_ids, same pipeline
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shift = base.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        *[c for c in base.columns if c != "doc_id"],
    )
    # coalesce(1): the copy below takes exactly one part file — with
    # more parts, each copy would overwrite batch1.parquet and only a
    # nondeterministic one would reach the stream
    shift.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage2"))
    [part] = list((tmp_path / "stage2").glob("*.parquet"))
    shutil.copy(part, d / "batch1.parquet")
    drain()
    result = spark.read.parquet(str(out))
    assert result.count() == 2 * n0
    assert (
        result.filter(F.col("doc_id") >= 10_000_000).count() == n0
    )


def test_streaming_nfc_audit_equals_batch(spark, sf_dir, tmp_path):
    """The Arrow-batched audits stream too: mapInPandas is stateless,
    so nfc_audit_summary drains a documents file-stream in append
    mode and reproduces the batch audit row-for-row — the Python
    kernel crosses the boundary per Arrow batch in streaming exactly
    as in batch."""
    from tinyerp_etl_spark.operators.text import nfc_audit_summary

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "batch0.parquet")
    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch_docs.schema)
        .parquet(str(d))
        .select("doc_id", "text")
    )
    out = tmp_path / "nfc_out"
    (
        nfc_audit_summary(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    batch = sorted(
        tuple(r)
        for r in nfc_audit_summary(
            batch_docs.select("doc_id", "text")
        ).collect()
    )
    assert streamed == batch


def test_streaming_repetition_audit_equals_batch(spark, sf_dir, tmp_path):
    """The Gopher A1.2 repetition audit (the third Arrow-batched doc
    audit) also streams unchanged — with this, every stateless
    per-doc audit face (column pipeline, mapInPandas kernel) is
    pinned stream ≡ batch."""
    from tinyerp_etl_spark.operators.text import repetition_summary

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "batch0.parquet")
    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch_docs.schema)
        .parquet(str(d))
        .select("doc_id", "text")
    )
    out = tmp_path / "rep_out"
    (
        repetition_summary(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    )
    batch = sorted(
        tuple(r)
        for r in repetition_summary(
            batch_docs.select("doc_id", "text")
        ).collect()
    )
    assert streamed == batch
