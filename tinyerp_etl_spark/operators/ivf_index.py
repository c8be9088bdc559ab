"""Persisted IVF centroid index: train once at ingest, load at query.

Round 6 trained k-means IN the query path — 4+ full corpus passes per
``ivf_topk``/``semantic_dedup`` invocation, the index-construction-in-
query anti-pattern that cannot survive 100 TB. This module is the
offline half the similarity operators were designed for (their
``centroids`` parameter): train once with ``train_kmeans``, persist
the tiny centroid table as a versioned TableStore artifact, and let
every query-path operator load it.

The artifact carries, denormalized onto its k rows:

- the training hyperparameters (k, iters, sample_cap) — a load with
  different parameters must not silently reuse a mismatched index;
- a corpus fingerprint (row count + exact sum of the md5-prefix seed
  hash over ids) — ``load_or_train`` re-derives it with ONE
  column-pruned aggregate scan and retrains when the corpus under the
  artifact changed. One pruned pass to validate vs five full passes
  to train; at true scale the fingerprint check is skipped entirely
  and the artifact version is trusted (``verify=False``), exactly as
  a production feature store trusts its ingest-time index build.

The reference has no vector path at all (it is a REST→PostgreSQL ETL,
ref tiny_api_v2_cliente.py); this is the Spark-first "train at
ingest, prune at query" design the 100 TB story needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.functions.localdf import local_df
from tinyerp_etl_spark.operators.similarity import (
    KMEANS_ITERS,
    KMEANS_K,
    TRAIN_SAMPLE_CAP,
    _seed_hash,
    train_kmeans,
)

IVF_INDEX_SCHEMA = StructType(
    [
        StructField("centroid_id", IntegerType()),
        StructField("centroid_ticks", ArrayType(LongType())),
        StructField("train_k", IntegerType()),
        StructField("train_iters", IntegerType()),
        StructField("train_sample_cap", IntegerType()),
        StructField("fp_n", LongType()),
        StructField("fp_hashsum", DecimalType(38, 0)),
    ]
)


def corpus_fingerprint(
    df: DataFrame, id_col: str = "vec_id", content: Column | str | None = None
) -> tuple[int, int]:
    """(row count, exact sum of an md5-prefix hash over id + content).

    ``content`` is a column (or column name) whose VALUE participates
    in the hash — without it, an in-place rewrite that keeps the id
    set (re-embedding with a new model, editing document text) would
    fingerprint identically and a stale index would be silently
    reused. Callers that persist an index over column X must
    fingerprint X. One aggregate pass over (id, content) only —
    column pruning keeps the scan far cheaper than the five full
    passes training costs. The hash is the same cross-engine
    md5-prefix idiom the k-means seeding uses, accumulated in
    decimal(38,0) (functions/exact.py discipline: 2^32-sized terms
    over an unbounded corpus overflow int64 long before they overflow
    a 38-digit decimal).
    """
    keyed = F.col(id_col).cast("string")
    if content is not None:
        c = F.col(content) if isinstance(content, str) else content
        keyed = F.concat_ws("|", keyed, c.cast("string"))
    row = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum(_seed_hash(keyed).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("hsum"),
    ).first()
    return int(row["n"]), int(row["hsum"])


def embedding_content(vec_col: str = "embedding") -> Column:
    """The canonical content column for fingerprinting an embedding
    corpus: the quantized tick vector rendered as a comma string —
    value-sensitive (any element change shifts the hash) and
    deterministic across engines (integer formatting, unlike float
    array stringification)."""
    from tinyerp_etl_spark.operators.similarity import _q

    return F.concat_ws(
        ",", F.transform(_q(F.col(vec_col)), lambda x: x.cast("string"))
    )


def index_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, IVF_INDEX_SCHEMA)


def save_ivf_index(
    spark: SparkSession,
    path: str,
    centroids: list[tuple[int, list[int]]],
    fingerprint: tuple[int, int],
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
) -> int:
    """Persist a trained index as the next TableStore version.

    k rows — control-plane size. Versioned like any other table so an
    index rebuild is a new version and readers pinned to the old one
    keep working (the time-travel contract, etl/table_store.py).
    """
    import decimal

    rows = [
        (
            int(cid),
            [int(t) for t in ticks],
            int(k),
            int(iters),
            -1 if sample_cap is None else int(sample_cap),
            int(fingerprint[0]),
            decimal.Decimal(fingerprint[1]),
        )
        for cid, ticks in centroids
    ]
    store = index_store(spark, path)
    return store.commit(local_df(spark, rows, IVF_INDEX_SCHEMA), n_files=1)


def load_ivf_index(
    spark: SparkSession,
    path: str,
    expect_params: tuple[int, int, int | None] | None = None,
    expect_fingerprint: tuple[int, int] | None = None,
) -> list[tuple[int, list[int]]] | None:
    """Load the current index version as [(centroid_id, ticks)] sorted
    by centroid_id; None when absent or when the stored training
    params / corpus fingerprint don't match the expectation."""
    store = index_store(spark, path)
    if not store.exists():
        return None
    rows = store.read().collect()
    if not rows:
        return None
    if expect_params is not None:
        k, iters, cap = expect_params
        cap = -1 if cap is None else cap
        if any(
            (r["train_k"], r["train_iters"], r["train_sample_cap"])
            != (k, iters, cap)
            for r in rows
        ):
            return None
    if expect_fingerprint is not None:
        n, hsum = expect_fingerprint
        if any(
            (r["fp_n"], int(r["fp_hashsum"])) != (n, hsum) for r in rows
        ):
            return None
    return sorted(
        ((int(r["centroid_id"]), list(r["centroid_ticks"])) for r in rows),
        key=lambda c: c[0],
    )


def load_or_train_ivf_index(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: bool = True,
    fingerprint: tuple[int, int] | None = None,
) -> list[tuple[int, list[int]]]:
    """The self-healing query-path entry: load the persisted index,
    falling back to train-and-persist when it is absent, was trained
    with different parameters, or (with ``verify``) no longer matches
    the corpus. ``verify=False`` trusts the artifact version — the
    true-scale mode, where the ingest pipeline owns index freshness.

    The fingerprint covers the embedding VALUES (embedding_content),
    not just the id set — re-embedding the corpus in place retrains.
    A caller that already computed it (e.g. to derive the artifact
    directory name) passes ``fingerprint`` to skip the second scan.

    Precedence: ``verify=False`` WINS over a passed ``fingerprint``
    for load-time validation (the artifact version is trusted, as
    documented) — the fingerprint then only spares the save-path
    rescan if training runs. Previously a passed fingerprint silently
    re-enabled verification, defeating the trust-the-artifact mode.
    """
    if verify:
        fp: tuple[int, int] | None = (
            fingerprint
            if fingerprint is not None
            else corpus_fingerprint(embeddings, id_col, embedding_content(vec_col))
        )
    else:
        fp = None
    cents = load_ivf_index(
        spark, path, expect_params=(k, iters, sample_cap), expect_fingerprint=fp
    )
    if cents is not None:
        return cents
    cents = train_kmeans(
        embeddings, k, iters, id_col=id_col, vec_col=vec_col, sample_cap=sample_cap
    )
    save_fp = fingerprint if fingerprint is not None else fp
    if save_fp is None:
        save_fp = corpus_fingerprint(embeddings, id_col, embedding_content(vec_col))
    save_ivf_index(
        spark, path, cents, save_fp, k=k, iters=iters, sample_cap=sample_cap
    )
    return cents
