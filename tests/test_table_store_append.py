"""commit_append: incremental versions that reference the base
version's files — union contents, batch-only IO, OCC, vacuum-safe
hard links, compaction restoring the clustered layout."""

from __future__ import annotations

import os

import pytest

from tinyerp_etl_spark.etl.table_store import ConcurrentWriteError, TableStore
from tinyerp_etl_spark.functions.localdf import local_df

SCHEMA = "k long, v string"


def _store(spark, tmp_path, name="t", partition_by=None):
    from pyspark.sql.types import StructType

    return TableStore(
        spark,
        str(tmp_path / name),
        StructType.fromDDL(SCHEMA),
        partition_by=partition_by,
    )


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_append_reads_union_and_writes_only_batch(spark, tmp_path):
    st = _store(spark, tmp_path)
    base = [(i, f"b{i}") for i in range(10)]
    batch = [(i, f"n{i}") for i in range(100, 105)]
    st.commit(local_df(spark, base, SCHEMA), n_files=2)
    files_v1 = st.data_file_count(1)
    v = st.commit_append(local_df(spark, batch, SCHEMA), n_files=1)
    assert v == 2
    assert _rows(st.read()) == sorted(base + batch)
    # exactly the batch's files were added; the base files are LINKS
    assert st.data_file_count(2) == files_v1 + 1
    # time travel still sees the base alone
    assert _rows(st.read_version(1)) == sorted(base)


def test_append_onto_empty_store_and_respects_occ(spark, tmp_path):
    st = _store(spark, tmp_path)
    # version 0 is the empty table: the append lands v1 with only the batch
    assert st.commit_append(local_df(spark, [(1, "x")], SCHEMA), n_files=1) == 1
    assert _rows(st.read()) == [(1, "x")]
    assert st.data_file_count(1) == 1
    # a second creator that also read version 0 loses
    with pytest.raises(ConcurrentWriteError):
        st.commit_append(
            local_df(spark, [(9, "z")], SCHEMA), expected_version=0
        )
    v = st.current_version()
    st.commit(st.read(), n_files=1)  # concurrent writer advances
    with pytest.raises(ConcurrentWriteError):
        st.commit_append(
            local_df(spark, [(2, "y")], SCHEMA), expected_version=v
        )
    # clean retry against the new version lands
    st.commit_append(
        local_df(spark, [(2, "y")], SCHEMA),
        expected_version=st.current_version(),
    )
    assert _rows(st.read()) == [(1, "x"), (2, "y")]


def test_empty_store_reads_start_no_job(spark, tmp_path):
    """Version 0 is a local relation: reading the empty table, and the
    IVF/PQ loaders that collect it, start no Spark job."""
    from tinyerp_etl_spark.operators.ivf_index import load_ivf_index
    from tinyerp_etl_spark.operators.pq_index import load_pq_index

    sc = spark.sparkContext
    st = _store(spark, tmp_path)
    sc.setJobGroup("empty-read", "reads of version 0")
    try:
        assert st.read().collect() == []
        assert st.read().limit(1).isEmpty()
        assert load_ivf_index(spark, str(tmp_path / "ivf")) is None
        assert load_pq_index(spark, str(tmp_path / "pq")) is None
        assert list(sc.statusTracker().getJobIdsForGroup("empty-read")) == []
    finally:
        sc.setJobGroup(None, None)


def test_vacuum_of_base_keeps_appended_version_readable(spark, tmp_path):
    """Hard links must keep shared bytes alive when the base version
    directory is reaped — the append chain cannot dangle."""
    st = _store(spark, tmp_path)
    base = [(i, f"b{i}") for i in range(6)]
    st.commit(local_df(spark, base, SCHEMA), n_files=1)
    st.commit_append(local_df(spark, [(100, "n")], SCHEMA), n_files=1)
    st.commit_append(local_df(spark, [(101, "m")], SCHEMA), n_files=1)
    deleted = st.vacuum(retain_last=1)
    assert deleted == [1, 2]
    assert _rows(st.read()) == sorted(base + [(100, "n"), (101, "m")])


def test_compact_restores_single_file_layout(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(local_df(spark, [(1, "a")], SCHEMA), n_files=1)
    for i in range(3):
        st.commit_append(local_df(spark, [(10 + i, "x")], SCHEMA), n_files=1)
    assert st.data_file_count() == 4  # the lakehouse trade: files grow
    st.compact(n_files=1)
    assert st.data_file_count() == 1
    assert len(_rows(st.read())) == 4


def test_append_with_partition_columns(spark, tmp_path):
    st = _store(spark, tmp_path, name="p", partition_by=["v"])
    st.commit(local_df(spark, [(1, "a"), (2, "b")], SCHEMA), n_files=1)
    st.commit_append(local_df(spark, [(3, "a"), (4, "c")], SCHEMA), n_files=1)
    got = _rows(st.read())
    assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "c")]
    # hive partition dirs carry both base links and batch files
    vdir = os.path.join(str(tmp_path / "p"), "v000002")
    assert sorted(
        d for d in os.listdir(vdir) if d.startswith("v=")
    ) == ["v=a", "v=b", "v=c"]


def test_append_cluster_by_sorts_within_batch_files(spark, tmp_path):
    import pyarrow.parquet as pq

    st = _store(spark, tmp_path, name="c")
    st.commit(local_df(spark, [(5, "e"), (1, "a")], SCHEMA), n_files=1, cluster_by=["k"])
    batch = [(9, "i"), (3, "c"), (7, "g")]
    st.commit_append(local_df(spark, batch, SCHEMA), n_files=1, cluster_by=["k"])
    assert _rows(st.read()) == [(1, "a"), (3, "c"), (5, "e"), (7, "g"), (9, "i")]
    # the clustering claim is WITHIN-FILE row order (row-group min/max
    # stats stay tight) — inspect each physical file, not the collect
    vdir = os.path.join(str(tmp_path / "c"), "v000002")
    checked = 0
    for fn in os.listdir(vdir):
        if not fn.endswith(".parquet"):
            continue
        ks = pq.read_table(os.path.join(vdir, fn), columns=["k"]).column(
            "k"
        ).to_pylist()
        assert ks == sorted(ks), (fn, ks)
        checked += 1
    assert checked == 2  # one linked base file + one batch file


def test_maybe_compact_only_fires_over_threshold(spark, tmp_path):
    st = _store(spark, tmp_path, name="mc")
    st.commit(local_df(spark, [(1, "a")], SCHEMA), n_files=1)
    st.commit_append(local_df(spark, [(2, "b")], SCHEMA), n_files=1)
    v = st.current_version()
    assert st.maybe_compact(max_files=2) is None  # 2 files: under
    assert st.current_version() == v              # no version burned
    st.commit_append(local_df(spark, [(3, "c")], SCHEMA), n_files=1)
    new_v = st.maybe_compact(max_files=2, cluster_by=["k"])
    assert new_v == v + 2
    assert st.data_file_count() == 1
    assert _rows(st.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # empty store: a no-op, not an error
    empty = _store(spark, tmp_path, name="mc2")
    assert empty.maybe_compact(max_files=1) is None


def test_append_sequence_law(spark, tmp_path):
    """Law over a whole append chain: after k appends, the current
    version's contents equal base ∪ batches[0..k], EVERY retained
    version time-travels to its own prefix, and file counts grow by
    exactly one batch-file per append until compaction."""
    import itertools

    st = _store(spark, tmp_path, name="law")
    base = [(i, f"b{i}") for i in range(4)]
    batches = [[(100 * (j + 1) + i, f"x{j}{i}") for i in range(j + 1)] for j in range(4)]
    st.commit(local_df(spark, base, SCHEMA), n_files=1, cluster_by=["k"])
    for j, b in enumerate(batches):
        v = st.commit_append(local_df(spark, b, SCHEMA), n_files=1, cluster_by=["k"])
        assert v == j + 2
        assert st.data_file_count(v) == v  # 1 base file + j+1 batch files
    for v in st.versions():
        want = base + list(itertools.chain.from_iterable(batches[: v - 1]))
        assert _rows(st.read_version(v)) == sorted(want), f"v{v}"
    st.maybe_compact(max_files=2, cluster_by=["k"])
    assert st.data_file_count() == 1
    want_all = base + list(itertools.chain.from_iterable(batches))
    assert _rows(st.read()) == sorted(want_all)


@pytest.mark.parametrize("method", ["commit", "commit_append"])
def test_failed_write_leaves_no_staging_dir(spark, tmp_path, method):
    """A write that fails at execution raises, keeps the current version
    and removes its private staging dir."""
    from pyspark.sql import functions as F

    st = _store(spark, tmp_path)
    st.commit(local_df(spark, [(1, "a")], SCHEMA))
    failing = spark.range(4).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("page write failed")))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").cast("string").alias("v"),
    )
    with pytest.raises(Exception, match="page write failed"):
        getattr(st, method)(failing)
    assert st.current_version() == 1
    assert not [d for d in os.listdir(st.path) if d.startswith(".staging-")]
    assert _rows(st.read()) == [(1, "a")]
