"""Persisted product-quantization (PQ) codebook index: train at
ingest, encode narrow, score by asymmetric distance computation.

Product quantization (Jégou, Douze, Schmid — "Product Quantization
for Nearest Neighbor Search", IEEE TPAMI 2011) is the memory side of
the billion-scale ANN stack (FAISS IVF-PQ): split each d-dim vector
into M contiguous subvectors, train an independent small codebook of
KS codewords per subspace, and store each vector as M one-byte codes
instead of d floats. Queries score by ADC — the query stays exact,
every database vector is approximated by its M chosen codewords, and
each subspace's (dot, norm²) contribution comes from a tiny
query-time lookup table instead of the raw vector.

This module is the IVF discipline (operators/ivf_index.py) applied to
the quantizer itself, re-expressed Spark-first:

- **Training** draws the deterministic capped sample ONCE (one
  TakeOrdered corpus pass, materialized) and runs ``train_kmeans``
  per subspace over slices of that tiny frame — same md5-prefix
  seeding, same integer Lloyd's, bit-identical to per-subspace capped
  training; slicing commutes with the tick quantization because
  ``_q`` is elementwise, so the DuckDB oracle models each subspace
  with the same unrolled k-means CTE the IVF oracles use.
- **The codebook persists** as a versioned TableStore artifact
  (M·KS control-plane rows) carrying its hyperparameters and a corpus
  fingerprint — the load/verify/retrain contract is ivf_index's,
  including ``verify=False`` winning over a passed fingerprint.
- **Encoding and ADC scoring are ONE narrow projection**: the
  codebook is M·KS driver-side rows, so per-subspace assignment folds
  into the same array_max-over-literal-structs expression
  ``ivf_assign_expr`` uses — and because the query-side lookup table
  is also constant at plan time, each struct carries its codeword's
  (dot-with-query, norm²) as literals. No join, no shuffle, no state:
  the entire approximate scoring pass is a projection Catalyst can
  pipeline into the scan, with TakeOrdered(k) on top. At 100 TB the
  codes are WRITTEN at ingest — ``pq_encode_wide`` emits the
  (id, list_id, code_1..code_M) table and
  streaming/stream_pipeline.run_stream_to_pq_codes drains a stream
  into it hive-partitioned by list — so the scan reads M small ints
  per vector from nprobe directories instead of the float matrix
  (a test pins ADC-from-stored-codes ≡ the in-plan ranking).

The reference has no vector path (it is a REST→PostgreSQL ETL, ref
tiny_api_v2_cliente.py); this extends the engine's ANN family
(brute/LSH/IVF/int8) with the compressed-domain member.
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
    QUANT,
    TRAIN_SAMPLE_CAP,
    _q,
    quantized_norm2,
    train_kmeans,
)

PQ_M = 4  # subspaces (must divide the embedding dim)
PQ_KS = 8  # codewords per subspace
PQ_ITERS = 2  # Lloyd's iterations per subspace codebook

#: [(subspace 1-based, code_id 1-based, ticks)] — the codebook type.
Codebook = list[tuple[int, int, list[int]]]

PQ_INDEX_SCHEMA = StructType(
    [
        StructField("subspace", IntegerType()),
        StructField("code_id", IntegerType()),
        StructField("code_ticks", ArrayType(LongType())),
        StructField("train_m", IntegerType()),
        StructField("train_ks", IntegerType()),
        StructField("train_iters", IntegerType()),
        StructField("train_sample_cap", IntegerType()),
        StructField("fp_n", LongType()),
        StructField("fp_hashsum", DecimalType(38, 0)),
    ]
)


def _sub_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """[(1-based slice start, width)] per subspace; raises unless
    ``m`` divides ``dim`` evenly (ragged subspaces would make the
    oracle's fixed-width slices silently wrong)."""
    if m <= 0 or dim % m:
        raise ValueError(f"PQ subspaces m={m} must evenly divide dim={dim}")
    w = dim // m
    return [(s * w + 1, w) for s in range(m)]


def train_pq(
    embeddings: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
) -> Codebook:
    """Train the M per-subspace codebooks; returns
    [(subspace, code_id, ticks)] sorted by (subspace, code_id).

    The seeding hash covers ``id_col`` only, so every subspace trains
    on the SAME deterministic sample rows — which means the capped
    sample is drawn ONCE (one TakeOrdered corpus pass, materialized)
    and all M ``train_kmeans`` runs slice that tiny frame with
    ``sample_cap=None`` (each run's seeding re-derives the identical
    (hash, id) order over the already-sampled rows, so results are
    bit-identical to per-subspace capped training — pinned by test).
    The first cut sampled per subspace: M+1 corpus passes where one
    suffices, a ~(M+1)× training-IO regression at the scale the cap
    exists for. Slicing before quantization equals quantizing then
    slicing (``_q`` is elementwise), which is what lets the DuckDB
    twin slice the raw embedding array. The embedding dim probes from
    the sample's first row — an empty corpus fails loudly here.

    Training keeps the family's loud-failure contract: a zero-norm
    subvector IN THE SAMPLE raises (train_kmeans → _assign_ticks), a
    broken input surfacing at build time; the query-path encode is
    softer (see ``_pq_sub_expr``).
    """
    from tinyerp_etl_spark.functions.materialize import materialize
    from tinyerp_etl_spark.operators.similarity import _seed_hash

    if sample_cap is not None and ks > sample_cap:
        raise ValueError(f"ks={ks} exceeds sample_cap={sample_cap}")
    base = embeddings.select(
        F.col(id_col), F.col(vec_col), _seed_hash(F.col(id_col)).alias("__h")
    )
    if sample_cap is not None:
        base = materialize(base.orderBy("__h", id_col).limit(sample_cap))
    base = base.drop("__h")
    probe = base.select(F.array_size(F.col(vec_col)).alias("d")).first()
    if probe is None or probe["d"] is None:
        raise ValueError("train_pq: cannot train on an empty embeddings frame")
    out: Codebook = []
    for s, (lo, w) in enumerate(_sub_bounds(int(probe["d"]), m), start=1):
        sliced = base.select(
            F.col(id_col), F.slice(F.col(vec_col), lo, w).alias(vec_col)
        )
        cents = train_kmeans(
            sliced,
            k=ks,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            sample_cap=None,  # base IS the shared sample already
        )
        out.extend((s, cid, ticks) for cid, ticks in cents)
    return sorted(out, key=lambda r: (r[0], r[1]))


def pq_store(spark: SparkSession, path: str) -> TableStore:
    return TableStore(spark, path, PQ_INDEX_SCHEMA)


def save_pq_index(
    spark: SparkSession,
    path: str,
    codebook: Codebook,
    fingerprint: tuple[int, int],
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
) -> int:
    """Persist a trained codebook as the next TableStore version
    (M·KS rows — control-plane size), hyperparameters and corpus
    fingerprint denormalized like the IVF artifact."""
    import decimal

    rows = [
        (
            int(s),
            int(cid),
            [int(t) for t in ticks],
            int(m),
            int(ks),
            int(iters),
            -1 if sample_cap is None else int(sample_cap),
            int(fingerprint[0]),
            decimal.Decimal(fingerprint[1]),
        )
        for s, cid, ticks in codebook
    ]
    store = pq_store(spark, path)
    return store.commit(local_df(spark, rows, PQ_INDEX_SCHEMA), n_files=1)


def load_pq_index(
    spark: SparkSession,
    path: str,
    expect_params: tuple[int, int, int, int | None] | None = None,
    expect_fingerprint: tuple[int, int] | None = None,
) -> Codebook | None:
    """Load the current codebook version; None when absent or when
    the stored (m, ks, iters, sample_cap) / corpus fingerprint don't
    match the expectation — the caller then retrains."""
    rows = pq_store(spark, path).read().collect()
    if not rows:
        return None
    if expect_params is not None:
        m, ks, iters, cap = expect_params
        cap = -1 if cap is None else cap
        if any(
            (r["train_m"], r["train_ks"], r["train_iters"], r["train_sample_cap"])
            != (m, ks, iters, cap)
            for r in rows
        ):
            return None
    if expect_fingerprint is not None:
        n, hsum = expect_fingerprint
        if any((r["fp_n"], int(r["fp_hashsum"])) != (n, hsum) for r in rows):
            return None
    return sorted(
        (
            (int(r["subspace"]), int(r["code_id"]), list(r["code_ticks"]))
            for r in rows
        ),
        key=lambda c: (c[0], c[1]),
    )


def load_or_train_pq_index(
    spark: SparkSession,
    embeddings: DataFrame,
    path: str,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: bool = True,
    fingerprint: tuple[int, int] | None = None,
) -> Codebook:
    """Self-healing query-path entry, ivf_index semantics verbatim:
    load the persisted codebook, retrain-and-persist when absent /
    param-mismatched / (with ``verify``) corpus-stale. ``verify=False``
    trusts the artifact version and WINS over a passed fingerprint
    for load-time validation; the fingerprint then only spares the
    save-path rescan when training runs."""
    from tinyerp_etl_spark.operators.ivf_index import (
        corpus_fingerprint,
        embedding_content,
    )

    if verify:
        fp: tuple[int, int] | None = (
            fingerprint
            if fingerprint is not None
            else corpus_fingerprint(embeddings, id_col, embedding_content(vec_col))
        )
    else:
        fp = None
    book = load_pq_index(
        spark,
        path,
        expect_params=(m, ks, iters, sample_cap),
        expect_fingerprint=fp,
    )
    if book is not None:
        return book
    book = train_pq(
        embeddings,
        m=m,
        ks=ks,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_cap=sample_cap,
    )
    save_fp = fingerprint if fingerprint is not None else fp
    if save_fp is None:
        save_fp = corpus_fingerprint(embeddings, id_col, embedding_content(vec_col))
    save_pq_index(
        spark,
        path,
        book,
        save_fp,
        m=m,
        ks=ks,
        iters=iters,
        sample_cap=sample_cap,
    )
    return book


def _by_subspace(codebook: Codebook) -> dict[int, list[tuple[int, list[int]]]]:
    by: dict[int, list[tuple[int, list[int]]]] = {}
    for s, cid, ticks in codebook:
        by.setdefault(s, []).append((cid, ticks))
    for cents in by.values():
        cents.sort()
    return by


def _pq_sub_expr(
    vec_col: str,
    lo: int,
    w: int,
    cents: list[tuple[int, list[int]]],
    qsub: list[int] | None,
    with_rss: bool = False,
) -> Column:
    """Per-row argmax over one subspace's codewords, as a single
    expression: struct(code[, qdot, cn2][, rss]) of the winning
    codeword (``with_rss`` adds the winner's integer reconstruction
    residual Σ(x_i − c_i)² — the prescreen-bound ingredient).

    The same array_max-over-literal-structs shape as
    ``ivf_assign_expr`` (higher assignment cosine wins, ties to the
    LOWER code_id via the -id field), extended so each candidate
    struct also carries the codeword's exact integer dot with the
    query subvector and its norm² — both constants at plan time, so
    the whole ADC lookup table rides inside the projection and no
    join ever happens. ``qsub=None`` omits the query fields (pure
    encoding).

    Two costs are engineered out: the subvector ticks and their norm²
    are HOF-lambda-bound so the KS candidates share ONE evaluation of
    each (Catalyst does not CSE through higher-order functions — the
    naive form re-ran slice+quantize per candidate, measured ~4×
    slower), and the whole expression is authored as ONE SQL string
    parsed JVM-side via ``F.expr`` — composing it from
    ``F.lit``-per-tick Columns cost thousands of py4j round-trips,
    ~5 s of DRIVER time per query build at M=4·KS=8·d=64. The tick
    arithmetic mirrors similarity._q/_ticks_dot/_ticks_norm2 exactly
    (same round/cast/aggregate shapes), which oracle parity pins.
    """
    if not isinstance(vec_col, str):
        # interpolating a Column into SQL fails with an obscure JVM
        # parse error far from the call site — fail fast instead
        raise TypeError(
            "pq expressions take the vector column NAME (str), not "
            f"{type(vec_col).__name__}"
        )
    vt0 = (
        f"transform(slice(`{vec_col}`, {lo}, {w}), "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    )
    cands = []
    for cid, ticks in cents:
        cn2 = sum(t * t for t in ticks)
        if cn2 == 0:
            raise ValueError(
                f"pq: codeword {cid} has zero ticks — broken codebook"
            )
        ct = "array(" + ", ".join(f"{int(t)}L" for t in ticks) + ")"
        dot = (
            f"aggregate(zip_with(vt, {ct}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        # a zero-norm SUBVECTOR of an otherwise-valid embedding scores
        # 0.0 against every codeword, so the argmax tie-break assigns
        # it to code 1 deterministically — the oracle's NaN candidates
        # (0/0 in _tcos) all tie too and its centroid_id ASC rule picks
        # the same code 1. Raising here (the full-vector convention)
        # would abort a whole encode job on a legitimate input; the
        # loud contract still holds at TRAIN time via _assign_ticks,
        # and a FULL-zero embedding (every subspace zero) raises at
        # encode (_nonzero_vec_guard) and at ADC assembly (_adc_topk's
        # Σn2 guard) — without those, the all-subspaces-tie row would
        # earn the phantom cosine of its code-1 reconstruction.
        score = (
            f"CAST(CASE WHEN n2 > CAST(0 AS DOUBLE) "
            f"THEN CAST({dot} AS DOUBLE) / sqrt(n2 * CAST({cn2} AS DOUBLE)) "
            "ELSE CAST(0.0 AS DOUBLE) END AS DOUBLE)"
        )
        fields = [
            f"'s', {score}",
            f"'nid', CAST({-cid} AS INT)",
            f"'code', CAST({cid} AS INT)",
        ]
        if qsub is not None:
            qdot = sum(a * b for a, b in zip(ticks, qsub))
            fields.append(f"'qdot', CAST({int(qdot)} AS BIGINT)")
            fields.append(f"'cn2', CAST({int(cn2)} AS BIGINT)")
            # the subvector's own norm² rides along so the ADC
            # assembly can detect a FULL-zero embedding (Σn2 = 0) and
            # fail loudly like ivf_assign_expr; exact as BIGINT (ticks
            # are ~1e7, w·tick² ≪ 2^53)
            fields.append("'n2', CAST(n2 AS BIGINT)")
        if with_rss:
            fields.append(
                f"'rss', aggregate(zip_with(vt, {ct}, "
                "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
                "(acc, x) -> acc + x)"
            )
        cands.append("named_struct(" + ", ".join(fields) + ")")
    argmax = f"array_max(array({', '.join(cands)}))"
    n2 = (
        "CAST(aggregate(transform(vt, x -> x * x), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x) AS DOUBLE)"
    )
    inner = f"element_at(transform(array({n2}), n2 -> {argmax}), 1)"
    return F.expr(f"element_at(transform(array({vt0}), vt -> {inner}), 1)")


def _nonzero_vec_guard(vec_col: str) -> Column:
    """Filter predicate that passes every row but RAISES on a
    full-zero embedding — the encode faces' loud-failure contract.

    A full-zero vector ties every subspace argmax to code 1, so its
    stored codes would later ADC-score as the code-1 reconstruction's
    cosine (a phantom neighbor). ``ivf_assign_expr`` already raises on
    such rows; this extends the same contract to the plain-PQ encode
    paths so the codes table can never contain a directionless vector
    and ADC-from-stored-codes stays ≡ the in-plan ranking."""
    n2 = (
        f"aggregate(transform(`{vec_col}`, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
    )
    return F.expr(
        f"CASE WHEN {n2} > CAST(0 AS BIGINT) THEN true "
        "ELSE CAST(raise_error('pq encode: zero-norm vector has no "
        "cosine direction') AS BOOLEAN) END"
    )


def _adc_topk(
    winners: DataFrame,
    subspaces: list[int],
    qn2: int,
    id_col: str,
    k: int,
) -> DataFrame:
    """The ADC score assembly shared by ``pq_adc_topk`` and
    ``ivfpq_topk``: fold the per-subspace winner structs
    (``__w{s}``: qdot, cn2, n2) into Σqdot / √(Σcn2 · |q|²), raise on
    a full-zero database vector (Σn2 = 0 — matching
    ``ivf_assign_expr``'s loud contract, so the two query paths agree
    on broken corpora), then TakeOrdered(k) with ties to the lower id."""
    cols = [f"__w{s}" for s in subspaces]
    num = sum((F.col(f"{c}.qdot") for c in cols[1:]), F.col(f"{cols[0]}.qdot"))
    xn2 = sum((F.col(f"{c}.cn2") for c in cols[1:]), F.col(f"{cols[0]}.cn2"))
    rown2 = sum((F.col(f"{c}.n2") for c in cols[1:]), F.col(f"{cols[0]}.n2"))
    score = (
        F.when(
            rown2 > F.lit(0),
            num.cast("double") / F.sqrt(xn2.cast("double") * F.lit(float(qn2))),
        )
        .otherwise(
            F.raise_error(
                F.lit("pq adc: zero-norm vector has no cosine direction")
            ).cast("double")
        )
        .cast("double")
    )
    return (
        winners.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: Codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, subspace, code) rows — M per vector, via ONE shuffle-free
    projection (the at-ingest write face: persist these M small ints
    and drop the floats)."""
    by = _by_subspace(codebook)
    dim = sum(len(cents[0][1]) for cents in by.values())
    bounds = _sub_bounds(dim, len(by))
    structs = [
        F.struct(
            F.lit(s).cast("int").alias("subspace"),
            _pq_sub_expr(vec_col, lo, w, by[s], None)["code"].alias("code"),
        )
        for s, (lo, w) in zip(sorted(by), bounds)
    ]
    return embeddings.filter(_nonzero_vec_guard(vec_col)).select(
        F.col(id_col), F.explode(F.array(*structs)).alias("__sc")
    ).select(
        F.col(id_col),
        F.col("__sc.subspace").alias("subspace"),
        F.col("__sc.code").alias("code"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    codebook: Codebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k by ADC through the PQ codebook.

    Control plane: the codebook (M·KS rows) and the query row.
    Data plane: one projection assigns each subvector to its codeword
    AND reads that codeword's (query-dot, norm²) from plan-time
    literals; the row's approximate score is
    Σ_m qdot / sqrt(Σ_m cn2 · |q|²) — query exact, database vector
    approximated, the standard asymmetric scheme. TakeOrdered(k) on
    top; ties break to the lower id like every ranking here.

    The codebook is REQUIRED: training is an ingest-time corpus pass
    (``train_pq`` + the persisted store), never a query-time one — an
    accidental ``None`` must not silently ship a per-query training
    job, the same contract ``ivfpq_topk`` enforces for its centroids.
    """
    if codebook is None:
        raise ValueError(
            "pq_adc_topk: codebook is required — train once at ingest "
            "(train_pq / the persisted PQ store) and pass it in; "
            "training inside the query path would rescan the corpus "
            "per query"
        )
    by = _by_subspace(codebook)
    qrow = embeddings.filter(F.col(id_col) == query_vec_id).select(
        _q(F.col(vec_col)).alias("__qt")
    ).first()
    if qrow is None:
        raise ValueError(f"pq_adc_topk: query vec_id {query_vec_id} not found")
    qticks = list(qrow["__qt"])
    bounds = _sub_bounds(len(qticks), len(by))
    qn2 = sum(t * t for t in qticks)
    if qn2 == 0:
        raise ValueError("pq_adc_topk: zero query vector has no cosine direction")
    # winner structs land as columns first so each subspace argmax
    # evaluates ONCE per row even though two fields are read from it
    winners = embeddings.filter(F.col(id_col) != query_vec_id).select(
        F.col(id_col),
        *[
            _pq_sub_expr(
                vec_col, lo, w, by[s], qticks[lo - 1 : lo - 1 + w]
            ).alias(f"__w{s}")
            for s, (lo, w) in zip(sorted(by), bounds)
        ],
    )
    return _adc_topk(winners, sorted(by), qn2, id_col, k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int | None = None,
    centroids: list[tuple[int, list[int]]] | None = None,
    codebook: Codebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse-prune to the query's nprobe
    IVF lists, ADC-score only those members through the PQ codebook —
    the composition FAISS ships as its billion-scale default, here
    built from the repo's two persisted artifacts.

    Control plane: the IVF centroid index (probe-list choice via the
    shared ``probe_lists`` rule), the PQ codebook, and the query row.
    Data plane: ONE narrow projection — per-row IVF list assignment
    (``ivf_assign_expr``), the nprobe membership filter (a literal IN
    over ≤ nprobe ids; against the ``ivf_partitioned_scan`` layout
    this is directory pruning, not a filter), and the per-subspace
    ADC winner structs — then TakeOrdered(k). No join, no shuffle,
    no state. At 100 TB the list_id and the M codes are ingest-time
    columns, so the scan reads nprobe/k of the directories × M bytes
    of codes per vector instead of the float matrix.
    """
    from tinyerp_etl_spark.operators.similarity import (
        IVF_NPROBE,
        ivf_assign_expr,
        probe_lists,
        quantize_vector,
    )

    if nprobe is None:
        nprobe = IVF_NPROBE
    if centroids is None or codebook is None:
        raise ValueError(
            "ivfpq_topk needs both persisted artifacts: pass centroids "
            "(IVF index) and codebook (PQ index) — train-at-ingest, "
            "never in the query path"
        )
    qrow = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col)
    ).first()
    if qrow is None:
        raise ValueError(f"ivfpq_topk: query vec_id {query_vec_id} not found")
    qticks = quantize_vector(qrow[vec_col])
    qn2 = sum(t * t for t in qticks)
    if qn2 == 0:
        raise ValueError("ivfpq_topk: zero query vector has no cosine direction")
    probes = probe_lists(centroids, qticks, nprobe)
    by = _by_subspace(codebook)
    bounds = _sub_bounds(len(qticks), len(by))
    winners = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .select(
            F.col(id_col),
            ivf_assign_expr(vec_col, centroids).alias("list_id"),
            *[
                _pq_sub_expr(
                    vec_col, lo, w, by[s], qticks[lo - 1 : lo - 1 + w]
                ).alias(f"__w{s}")
                for s, (lo, w) in zip(sorted(by), bounds)
            ],
        )
        .filter(F.col("list_id").isin([int(p) for p in probes]))
    )
    return _adc_topk(winners, sorted(by), qn2, id_col, k)


def pq_encode_wide(
    embeddings: DataFrame,
    codebook: Codebook,
    centroids: list[tuple[int, list[int]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The INGEST-TIME layout of IVF-PQ: one row per vector with its
    coarse list and its M codes as columns —
    (id, [list_id,] code_1..code_M) — via one shuffle-free projection.

    This is the table a 100 TB deployment persists instead of the
    float matrix: partitioned by ``list_id`` it is the corpus
    ``ivfpq_topk`` reads — directory-pruned to nprobe lists, M small
    ints per vector. ``centroids=None`` omits the list column (plain
    PQ compression without the coarse index)."""
    by = _by_subspace(codebook)
    dim = sum(len(cents[0][1]) for cents in by.values())
    bounds = _sub_bounds(dim, len(by))
    cols = [F.col(id_col)]
    if centroids is not None:
        from tinyerp_etl_spark.operators.similarity import ivf_assign_expr

        cols.append(ivf_assign_expr(vec_col, centroids).alias("list_id"))
    cols.extend(
        _pq_sub_expr(vec_col, lo, w, by[s], None)["code"].alias(f"code_{s}")
        for s, (lo, w) in zip(sorted(by), bounds)
    )
    return embeddings.filter(_nonzero_vec_guard(vec_col)).select(*cols)


def codebook_digest(codebook: Codebook) -> str:
    """Content digest of a codebook (16 hex chars), order-insensitive
    over its (subspace, code_id, ticks) rows — two books digest equal
    iff they decode every code to the same ticks. This is the value
    ``pq_prescreen_cols`` stamps next to the codes it writes and the
    consumers validate against the book they were handed: codes looked
    up in a DIFFERENT book's LUT would make the "provably sound"
    prescreen bound silently unsound (the Cauchy-Schwarz derivation
    assumes recon comes from the same codewords the LUT scores)."""
    import hashlib

    canon = sorted(
        (int(s), int(c), tuple(int(t) for t in ticks))
        for s, c, ticks in codebook
    )
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def pq_prescreen_cols(
    df: DataFrame,
    codebook: Codebook,
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    eps_col: str = "pq_eps",
    book_col: str = "pq_book",
) -> DataFrame:
    """Append the ADC-prescreen INGEST columns to a vector frame: the
    row's M PQ codes as one array<int> (identical to
    ``pq_encode_wide``'s codes, pinned by test), the row's relative
    reconstruction residual eps = |x_ticks − recon_ticks| / |x_ticks|,
    and the encoding book's ``codebook_digest`` (constant per write —
    what lets a reader refuse codes from a different book).

    eps is what makes the compressed-domain prescreen SOUND rather
    than heuristic. Writing x = recon + r, Cauchy-Schwarz gives
        cos(x, q) = (recon·q + r·q) / (|x||q|)
                  ≤ (recon·q) / (|x||q|) + |r|/|x|
    so keeping every candidate with  adc' + eps ≥ threshold  (where
    adc' = recon·q / (|x||q|), M LUT lookups per pair) provably keeps
    every pair whose EXACT cosine clears the threshold — zero false
    drops by construction. A coarse codebook only weakens the pruning
    rate (bigger eps ⇒ more survivors), never correctness; measured on
    the gate corpus the M=4·KS=8 book already prunes ~85 % of IVF
    candidates at threshold 0.99. One shuffle-free projection; a zero
    full-vector row gets eps 0 and a null prescreen score downstream —
    dropped, exactly as the exact path drops its null cosine.
    (ADC per Jégou/Douze/Schmid 2011; the residual term is the
    standard triangle-inequality pruning bound.)
    """
    by = _by_subspace(codebook)
    dim = sum(len(cents[0][1]) for cents in by.values())
    bounds = _sub_bounds(dim, len(by))
    # winner structs land as columns first so each subspace argmax
    # evaluates ONCE per row even though two fields are read from it
    winners = df.select(
        "*",
        *[
            _pq_sub_expr(vec_col, lo, w, by[s], None, with_rss=True).alias(
                f"__w{s}"
            )
            for s, (lo, w) in zip(sorted(by), bounds)
        ],
    )
    codes = F.array(*[F.col(f"__w{s}.code") for s in sorted(by)])
    rss = None
    for s in sorted(by):
        c = F.col(f"__w{s}.rss")
        rss = c if rss is None else rss + c
    tn2 = quantized_norm2(F.col(vec_col)).cast("double")
    eps = (
        F.when(tn2 > F.lit(0.0), F.sqrt(rss.cast("double") / tn2))
        .otherwise(F.lit(0.0))
        .cast("double")
    )
    return winners.select(
        *df.columns,
        codes.alias(codes_col),
        eps.alias(eps_col),
        # the encoding book's content digest rides every row (constant
        # — RLE-compresses to row-group stats, so a matching consumer
        # probe prunes EVERY row group): a retrained/mismatched book
        # at read time is a loud refusal, never a silently-unsound
        # bound (the span store's k-mismatch discipline)
        F.lit(codebook_digest(codebook)).alias(book_col),
    )


def pq_query_lut_expr(ticks_col: str, codebook: Codebook) -> Column:
    """The per-QUERY ADC lookup table as one row-scale expression over
    an ALREADY-QUANTIZED tick column: array<array<bigint>> of shape
    M × KS with LUT[s][c] = dot(query subvector ticks, codeword c
    ticks) — code ids are 1-based, so the pair-side lookup is
    ``element_at(LUT[s], code_s)`` directly.

    Computed once per query row (M·KS integer dots, each O(dim/M) —
    one corpus-free pass over the batch); the candidate join then
    scores each (store, query) pair with M element_at lookups instead
    of an O(dim) dot. Each subspace's slice binds via the
    transform-array scaffold so its KS dots share one evaluation;
    authored as ONE SQL string parsed JVM-side (the py4j-tax
    discipline of its siblings).
    """
    if not isinstance(ticks_col, str):
        raise TypeError(
            "pq expressions take the tick column NAME (str), not "
            f"{type(ticks_col).__name__}"
        )
    by = _by_subspace(codebook)
    dim = sum(len(cents[0][1]) for cents in by.values())
    bounds = _sub_bounds(dim, len(by))
    subs = []
    for s, (lo, w) in zip(sorted(by), bounds):
        dots = []
        for _cid, ticks in by[s]:  # sorted by code id (1-based, dense)
            ct = "array(" + ", ".join(f"{int(t)}L" for t in ticks) + ")"
            dots.append(
                f"aggregate(zip_with(sub, {ct}, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
        subs.append(
            f"element_at(transform(array(slice(`{ticks_col}`, {lo}, {w})), "
            f"sub -> array({', '.join(dots)})), 1)"
        )
    return F.expr("array(" + ", ".join(subs) + ")")
