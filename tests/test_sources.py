"""Envelope-JSON page reader + resilient fetcher protocol tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tinyerp_etl_spark.sources.fetcher import (
    CriticalTokenError,
    FetchError,
    fetch_page,
    mask_token,
)
from tinyerp_etl_spark.sources.json_pages import (
    envelope_records,
    envelope_schema,
    flatten_order_items,
    read_envelope_pages,
)

PRODUTO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("nome", T.StringType()),
        T.StructField("preco", T.StringType()),
    ]
)


def _write_page(path, payload):
    path.write_text(json.dumps(payload))


def test_read_envelope_pages_flattens_records(spark, tmp_path):
    d = tmp_path / "pages"
    d.mkdir()
    _write_page(
        d / "p1.json",
        {
            "retorno": {
                "status": "OK",
                "status_processamento": "3",
                "pagina": 1,
                "numero_paginas": 2,
                "produtos": [
                    {"produto": {"id": "1", "nome": "Caneta", "preco": "1,50"}},
                    {"produto": {"id": "2", "nome": "Lapis", "preco": "0,75"}},
                ],
            }
        },
    )
    _write_page(
        d / "p2.json",
        {
            "retorno": {
                "status": "OK",
                "status_processamento": "10",
                "pagina": 2,
                "numero_paginas": 2,
                "produtos": [
                    {"produto": {"id": "3", "nome": "Borracha", "preco": "2,00"}}
                ],
            }
        },
    )
    df = read_envelope_pages(spark, str(d), "produtos", "produto", PRODUTO_SCHEMA)
    rows = sorted((r["id"], r["nome"]) for r in df.collect())
    assert rows == [("1", "Caneta"), ("2", "Lapis"), ("3", "Borracha")]


def test_empty_success_page_contributes_zero_rows(spark, tmp_path):
    d = tmp_path / "pages"
    d.mkdir()
    _write_page(
        d / "empty.json",
        {
            "retorno": {
                "status": "Erro",
                "erros": [{"erro": "Nenhum registro encontrado"}],
            }
        },
    )
    df = read_envelope_pages(spark, str(d), "produtos", "produto", PRODUTO_SCHEMA)
    assert df.count() == 0


ERROR_32 = {
    "retorno": {
        "status": "Erro",
        "codigo_erro": "32",
        "erros": [{"erro": "Parametro invalido"}],
    }
}


def _pedido_pages(d):
    """A good pedidos page with nested items next to a codigo_erro=32 page."""
    d.mkdir()
    item = {"item": {"codigo": "A", "quantidade": "2"}}
    _write_page(d / "p1.json", {"retorno": {"status": "OK", "status_processamento": "3",
                                            "pedidos": [{"pedido": {"id": 7, "itens": [item]}}]}})
    _write_page(d / "p2.json", ERROR_32)


PEDIDO_DDL = "id long, itens array<struct<item: struct<codigo: string, quantidade: string>>>"


@pytest.mark.parametrize(
    "transform",
    [
        lambda df: df,
        lambda df: df.drop("itens"),
        lambda df: flatten_order_items(df, "id", "itens", "item"),
    ],
    ids=["page", "pedidos_drop_itens", "flatten_order_items"],
)
def test_error_page_fails_first_action_with_no_job_of_its_own(spark, tmp_path, transform):
    """The protocol check is the filter above the page scan: building the
    DataFrame runs no Spark job, and the first action raises, whatever
    columns the transform keeps."""
    d = tmp_path / "pages"
    _pedido_pages(d)
    schema = T.StructType.fromDDL(PEDIDO_DDL)
    sc = spark.sparkContext
    sc.setJobGroup("build-page-df", "read_envelope_pages + transform")
    try:
        df = transform(read_envelope_pages(spark, str(d), "pedidos", "pedido", schema))
        assert list(sc.statusTracker().getJobIdsForGroup("build-page-df")) == []
    finally:
        sc.setJobGroup(None, None)
    with pytest.raises(Exception, match="codigo_erro=32"):
        df.collect()


GOOD_PAGE = json.dumps({"retorno": {"status": "OK", "produtos": [{"produto": {"id": 1}}]}})
ID_LONG = T.StructType([T.StructField("id", T.LongType())])


@pytest.mark.parametrize(
    "bad",
    [
        GOOD_PAGE[:-7],
        json.dumps(json.loads(GOOD_PAGE), indent=2),
        GOOD_PAGE.replace('"id": 1', '"id": "x1"'),
        GOOD_PAGE.replace('"id": 1', '"id": "10"'),
    ],
    ids=["truncated", "multi_line", "x1_under_long", "numeric_string_under_long"],
)
def test_malformed_page_file_fails_the_read(spark, tmp_path, bad):
    """FAILFAST: a page file Spark cannot parse under the envelope schema
    fails the read instead of vanishing or turning into nulls. A record
    value must already have its declared type: a numeric string under a
    ``long`` field is not cast."""
    d = tmp_path / "pages"
    d.mkdir()
    (d / "p1.json").write_text(GOOD_PAGE)
    (d / "p2.json").write_text(bad)
    df = read_envelope_pages(spark, str(d), "produtos", "produto", ID_LONG)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        df.collect()


def _status_page(status_processamento):
    return {"retorno": {"status": "OK", "status_processamento": status_processamento,
                        "produtos": [{"produto": {"id": "1", "nome": "a", "preco": "1"}}]}}


#: envelope -> outcome every reader must agree on: records read, or a fault
VERDICTS = {
    "processing_3": (_status_page("3"), 1),
    "processing_10": (_status_page("10"), 1),
    "processing_null": (_status_page(None), 1),
    "processing_1": (_status_page("1"), "raise"),
    "processing_2": (_status_page("2"), "raise"),
    "no_records": ({"retorno": {"status": "Erro",
                                "erros": [{"erro": "Nenhum registro encontrado"}]}}, 0),
    "codigo_erro_32": (ERROR_32, "raise"),
    "empty_erros": ({"retorno": {"status": "Erro", "erros": []}}, "raise"),
    "no_status": ({"retorno": {"produtos": [{"produto": {"id": "1"}}]}}, "raise"),
}


def _outcome(read):
    try:
        return read()
    except Exception as exc:
        if "page breaks the status protocol" not in str(exc):
            raise
        return "raise"


@pytest.mark.parametrize("case", list(VERDICTS))
def test_all_page_readers_give_the_same_verdict(spark, tmp_path, case):
    """read_envelope_pages and fetch_page apply one status rule: same
    records, same empty page, same faults."""
    envelope, expected = VERDICTS[case]
    d = tmp_path / "pages"
    d.mkdir()
    _write_page(d / "page_0001.json", envelope)
    got = {
        "read_envelope_pages": _outcome(lambda: len(read_envelope_pages(
            spark, str(d), "produtos", "produto", PRODUTO_SCHEMA).collect())),
        "fetch_page": _outcome(lambda: len(fetch_page(
            _transport_seq([(200, envelope)]), "u", {}, sleep=_no_sleep
        ).get("produtos") or [])),
    }
    assert got == dict.fromkeys(got, expected)


def test_flatten_order_items(spark):
    schema = T.StructType(
        [
            T.StructField("id_pedido", T.IntegerType()),
            T.StructField(
                "itens",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "item",
                                T.StructType(
                                    [
                                        T.StructField("codigo", T.StringType()),
                                        T.StructField("quantidade", T.StringType()),
                                    ]
                                ),
                            )
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [{"item": {"codigo": "A", "quantidade": "2"}},
                 {"item": {"codigo": "B", "quantidade": "1"}}]),
            (2, [{"item": {"codigo": "C", "quantidade": "5"}}]),
        ],
        schema,
    )
    out = flatten_order_items(df, "id_pedido", "itens", "item")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, "A", "2"), (1, "B", "1"), (2, "C", "5")]


# ---------------------------------------------------------------- fetcher


def _transport_seq(responses):
    """Transport yielding canned (status, body) responses in order."""
    it = iter(responses)

    def transport(url, params):
        item = next(it)
        if isinstance(item, Exception):
            raise item
        return item

    return transport


def _no_sleep(_):
    pass


def test_fetch_ok_first_try():
    body = {"retorno": {"status": "OK", "produtos": []}}
    res = fetch_page(_transport_seq([(200, body)]), "u", {}, sleep=_no_sleep)
    assert res == body["retorno"]


def test_fetch_retries_network_errors_with_backoff():
    body = {"retorno": {"status": "OK"}}
    delays = []
    res = fetch_page(
        _transport_seq([OSError("net"), OSError("net"), (200, body)]),
        "u",
        {},
        sleep=delays.append,
    )
    assert res == body["retorno"]
    assert delays == [2.0, 4.0]  # exponential ×2 (ref :236)


def test_fetch_429_uses_fixed_delay():
    body = {"retorno": {"status": "OK"}}
    delays = []
    res = fetch_page(
        _transport_seq([(429, {}), (200, body)]), "u", {}, sleep=delays.append
    )
    assert res == body["retorno"]
    assert delays == [30]  # RETRY_DELAY_429 (ref :48, :290)


def test_fetch_4xx_hard_fails():
    with pytest.raises(FetchError, match="HTTP 404"):
        fetch_page(_transport_seq([(404, {})]), "u", {}, sleep=_no_sleep)


@pytest.mark.parametrize("body", [None, [1], "x"], ids=["null", "list", "string"])
def test_fetch_non_object_body_is_a_fetch_error(body):
    with pytest.raises(FetchError, match="not a JSON object"):
        fetch_page(_transport_seq([(200, body)]), "u", {}, sleep=_no_sleep)


def test_fetch_error_code_35_forces_retry():
    bad = {"retorno": {"status": "Erro", "codigo_erro": "35"}}
    good = {"retorno": {"status": "OK"}}
    res = fetch_page(_transport_seq([(200, bad), (200, good)]), "u", {}, sleep=_no_sleep)
    assert res == good["retorno"]


def test_fetch_token_error_is_critical():
    bad = {"retorno": {"status": "Erro", "codigo_erro": "2"}}
    with pytest.raises(CriticalTokenError):
        fetch_page(_transport_seq([(200, bad)]), "u", {}, sleep=_no_sleep)


def test_fetch_empty_success():
    body = {
        "retorno": {
            "status": "Erro",
            "erros": [{"erro": "Nenhum registro encontrado"}],
        }
    }
    res = fetch_page(_transport_seq([(200, body)]), "u", {}, sleep=_no_sleep)
    assert res == body["retorno"]


def test_fetch_retries_exhausted():
    with pytest.raises(FetchError, match="retries exhausted"):
        fetch_page(
            _transport_seq([OSError("x")] * 4), "u", {}, max_retries=3, sleep=_no_sleep
        )


def test_mask_token():
    assert mask_token("secret-token-123") == "secre..."  # ref :230


def test_csv_failfast_on_corrupt_rows(spark, tmp_path):
    """Pinned-schema CSV reads fail loudly on malformed rows instead of
    silently producing NULLs (the opposite default from the reference's
    0.0-coercion, which stays available explicitly via coerce)."""
    import pytest
    from pyspark.sql import types as T

    from tinyerp_etl_spark.sources.files import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,price\n1,10.5\n2,not-a-number\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("price", T.DoubleType())]
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_csv(spark, str(p), schema).collect()


def test_jsonl_roundtrip_preserves_timestamps(spark, sf_dir, tmp_path):
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table
    from tinyerp_etl_spark.sources.files import read_jsonl, write_jsonl

    ev = load_table(spark, sf_dir, "events").limit(100)
    write_jsonl(ev, str(tmp_path / "ev"), n_files=1)
    back = read_jsonl(spark, str(tmp_path / "ev"), TABLES["events"])
    assert sorted(r["ts"] for r in back.select("ts").collect()) == sorted(
        r["ts"] for r in ev.select("ts").collect()
    )


# ---------------------------------------------------------------------------
# streaming page reads: the file-source offset log is the page checkpoint
# ---------------------------------------------------------------------------

def _stage_pages(d, n_pages):
    d.mkdir(parents=True, exist_ok=True)
    for i in range(1, n_pages + 1):
        _write_page(
            d / f"page_{i:04d}.json",
            {
                "retorno": {
                    "status": "OK",
                    "status_processamento": "3",
                    "pagina": i,
                    "numero_paginas": n_pages,
                    "produtos": [
                        {"produto": {"id": str(i * 10 + j), "nome": f"p{i}-{j}", "preco": "1,50"}}
                        for j in range(3)
                    ],
                }
            },
        )


def test_envelope_pages_stream_resumes_from_offset(spark, tmp_path):
    """New pages arrive in the next micro-batch and a restart does not
    re-read committed pages — the reference's page-checkpoint contract
    (ref :183-223); an error page fails the query."""
    d = tmp_path / "pages"
    _stage_pages(d, n_pages=2)
    ckpt = str(tmp_path / "ckpt")
    schema = envelope_schema("produtos", "produto", PRODUTO_SCHEMA)

    def run_once():
        raw = spark.readStream.schema(schema).option("mode", "FAILFAST").json(str(d))
        records = envelope_records(raw, "produtos", "produto")
        q = (
            records.withColumn("id", F.col("id").cast("long"))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 6  # 2 pages x 3 records

    # spooler lands one more page; restart picks up ONLY the new page
    _stage_pages(d, n_pages=3)  # rewrites pages 1-2 identically, adds page 3
    run_once()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 9
    assert out.filter("id >= 30").count() == 3

    _write_page(d / "page_0004.json", ERROR_32)
    with pytest.raises(Exception, match="page breaks the status protocol"):
        run_once()


def test_events_ts_sanity_bounds(spark, sf_dir):
    """Guard against testdata drift: the catalog's events read must land
    in the generated 2024 date range, not a unit-confused 1970 sliver.

    Round 2 regression: the driver regenerated events.ts as
    TIMESTAMP(MICROS) while the catalog still assumed TIMESTAMP(NANOS),
    compressing a month of events into 43 minutes of January 1970 and
    silently corrupting 12 queries. This pins the bound so the next
    physical-type drift fails loudly in seconds.
    """
    import datetime

    from tinyerp_etl_spark.sources.catalog import load_table

    lo, hi = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts"), F.max("ts"))
        .first()
    )
    assert lo >= datetime.datetime(2024, 1, 1), lo
    assert hi < datetime.datetime(2026, 1, 1), hi
    # orders/lineitem date columns share the same generation window
    olo, ohi = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min("o_orderdate"), F.max("o_orderdate"))
        .first()
    )
    assert olo >= datetime.datetime(1992, 1, 1), olo
    assert ohi < datetime.datetime(2026, 1, 1), ohi


def test_ts_unit_sniff_does_not_cache_failures(tmp_path):
    # an empty directory (streaming sink sampled mid-materialization)
    # must fall back to 'us' WITHOUT caching — once real nanos files
    # land at the path, the sniff must see them
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tinyerp_etl_spark.sources.catalog import _TS_UNIT_CACHE, _events_ts_unit

    d = tmp_path / "events.parquet"
    d.mkdir()
    path = str(d)
    assert _events_ts_unit(path) == "us"
    assert path not in _TS_UNIT_CACHE
    tbl = pa.table({"ts": pa.array([1, 2, 3], type=pa.timestamp("ns"))})
    pq.write_table(tbl, d / "part-0.parquet")
    assert _events_ts_unit(path) == "ns"
    assert _TS_UNIT_CACHE[path] == "ns"


def test_xml_roundtrip_exact(spark, sf_dir, tmp_path):
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table
    from tinyerp_etl_spark.sources.files import read_xml, write_xml

    orders = load_table(spark, sf_dir, "orders")
    write_xml(orders, str(tmp_path / "xml"), n_files=2)
    back = read_xml(spark, str(tmp_path / "xml"), TABLES["orders"])
    assert back.schema == orders.schema
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
