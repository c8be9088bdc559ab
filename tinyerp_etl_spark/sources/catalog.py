"""Catalog of the driver's test tables with explicit, pinned schemas.

The reference manages a fixed DDL catalog created idempotently at
startup (criar_tabelas_db, tiny_api_v2_cliente.py:80-105). The Spark
analog: every table read goes through an explicit StructType — schema
inference is banned on production paths so a drifted file fails loudly
instead of silently widening types.

At 100 TB these parquet reads are the scan layer; keeping the schema
explicit also guarantees column pruning has a stable base and the
`ReadSchema` in `.explain` stays minimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Pinned schemas for the TPC-H-ish test tables (TESTDATA.md). Types
# mirror the parquet files; ints stay 32-bit where the file has them so
# the scan schema matches exactly.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = {"region", "nation"}


# events.ts has drifted between testdata generations: round 1 shipped
# parquet TIMESTAMP(NANOS) (illegal for Spark's vectorized reader),
# round 2 regenerated as TIMESTAMP(MICROS). Rather than pin one physical
# type and silently corrupt timestamps when the file changes again, we
# sniff the parquet footer (driver-side, metadata-only — one footer read
# per path, cached) and pick the read path that matches the file:
#   - us/ms:  plain typed read; Spark handles these natively.
#   - ns:     spark.sql.legacy.parquet.nanosAsLong (set in session.py)
#             reads the int64 nanos as LongType; `ts div 1000` truncates
#             to micros exactly like DuckDB's ns→us cast so both engines
#             see identical timestamps.
# tests/test_sources.py::test_events_ts_sanity_bounds pins min(ts) to the
# generated 2024 range so a future drift fails loudly in seconds.
_EVENTS_RAW_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_TS_UNIT_CACHE: dict[str, str] = {}


def _events_ts_unit(path: str) -> str:
    """Physical timestamp unit ('ns'/'us'/'ms'/'s') of events.ts at `path`.

    Footer-only read via pyarrow; successful sniffs are cached per path
    for the session. If the footer can't be read (e.g. a directory of
    part files sampled while still empty / mid-materialization), fall
    back to 'us' for THIS call but do NOT cache it — a path that later
    gains TIMESTAMP(NANOS) files must be re-sniffed, or timestamps
    would be silently misread as micros, the exact corruption class
    this sniffing exists to prevent.
    """
    unit = _TS_UNIT_CACHE.get(path)
    if unit is None:
        # a missing pyarrow must fail LOUDLY: silently defaulting to
        # 'us' would make the guarded nanos read path unreachable for
        # exactly the TIMESTAMP(NANOS) files it exists to handle
        import pyarrow.dataset as ds

        try:
            field = ds.dataset(path, format="parquet").schema.field("ts")
            unit = getattr(field.type, "unit", "us")
            _TS_UNIT_CACHE[path] = unit
        except Exception:
            # unreadable footer / no ts field yet — use the safe
            # default transiently, without poisoning the cache
            unit = "us"
    return unit


def read_events(reader, path: str) -> DataFrame:
    """Events at ``path`` through ``reader`` (``spark.read`` or a
    configured ``spark.readStream``), ts normalized to TimestampType
    whatever the file's physical unit."""
    if _events_ts_unit(path) != "ns":
        return reader.schema(TABLES["events"]).parquet(path)
    from pyspark.sql import functions as F

    raw = reader.schema(_EVENTS_RAW_NANOS).parquet(path)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with its pinned schema."""
    if name == "events":
        return read_events(spark.read, f"{sf_dir}/events.parquet")
    schema = TABLES[name]
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def widen_if_narrow(
    df: DataFrame, sf_dir: str, name: str = "documents"
) -> DataFrame:
    """Fan a frame backed by a small single-file scan out to the
    session's default parallelism (optimization round 14, guide
    §2.5/§1.2: per-doc compute above a one-row-group parquet file
    runs on ONE core no matter the cluster size, because a scan
    split cannot be narrower than a row group). The decision derives
    from the backing file's size, not a local constant: when the
    file already yields >= defaultParallelism scan splits under the
    session's maxPartitionBytes, the helper returns the frame
    untouched, so a real-scale input never pays an extra shuffle.
    Only appropriate on frames feeding aggregation/join pipelines —
    a round-robin exchange below a map-only projection would force
    count-only actions to execute it.
    """
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            # a directory-backed parquet table (Spark's standard
            # multi-part layout): getsize() on the directory returns
            # the ~4KB dirent size, which would classify a 100 TB
            # table as "narrow" and pay the full-corpus repartition
            # the guard exists to prevent. Sum the leaf data files
            # instead (skip _SUCCESS / dot-files — commit-protocol
            # metadata, not scan input).
            size = 0
            for root, dirs, files in os.walk(path):
                # prune metadata/staging SUBTREES too (_temporary,
                # _delta_log, .staging-*) — their bytes are not scan
                # input, and counting an in-flight write's attempt
                # files would inflate the estimate past the widen
                # threshold (review finding, r15)
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for fn in files:
                    if fn.startswith(("_", ".")):
                        continue
                    size += os.path.getsize(os.path.join(root, fn))
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    spark = df.sparkSession
    # Spark's own parser: accepts every byte-string suffix ("128mb", "1t")
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    cores = spark.sparkContext.defaultParallelism
    if size // max_pb >= cores:
        return df
    return df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql paths."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
