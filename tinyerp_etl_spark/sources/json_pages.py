"""Paginated-envelope JSON source — the reference's REST source, Spark-first.

The reference pulls pages of ``{"retorno": {...}}`` envelopes from the
Tiny ERP v2 API (ref tiny_api_v2_cliente.py:225-302: token auth,
``formato=json``, envelope unwrap at :249-250, status protocol at
:259-285). In the Spark engine, fetched pages land as JSON files (one
file per page — the natural spool format for a REST crawler feeding a
cluster) and this module turns a directory of pages into a flat
DataFrame of records, in batch (``read_envelope_pages``) or as a
stream (``envelope_records`` over ``spark.readStream`` of the same
schema, whose file-source offset log resumes at the next unseen page,
the reference's page checkpoint, ref :183-223):

- explicit envelope schema (no inference on prod paths), read FAILFAST
  so a malformed page file or field value fails instead of nulling,
- record values follow the JSON reader's one rule: a numeric field
  takes only a JSON number that fits its type, never a numeric string
  (a ``double`` field also takes ``"NaN"`` and ``"Infinity"``); a
  ``string`` field takes any scalar as its text. The Tiny API sends
  ids as ``"10"``, so such fields are declared ``string`` and cast in
  the entity transform; declared ``long``, the read fails,
- the status protocol, defined only here: ``status`` OK with processing
  status absent, 3 or 10 is a page of records (ref :275-284); another
  status with first error ``NO_RECORDS_ERROR`` is success-with-empty
  (ref :281-282); any other page, null ``status`` included, is a fault,
- record arrays are exploded and the per-record wrapper struct
  (``{"produto": {...}}``) unwrapped.

At scale this reads thousands of page files in one distributed scan —
the protocol checks are column predicates, not driver loops. The check
is lazy, a filter right above the scan: a faulty page fails the first
action that scans it, and no job of its own reads the pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: statuses that mean "the page is good" (ref :275-284)
OK_PROCESSING_STATUSES = ("3", "10")
#: error text that actually means empty-success (ref :281-282)
NO_RECORDS_ERROR = "Nenhum registro encontrado"
_FAULT = "page breaks the status protocol: status=%s status_processamento=%s codigo_erro=%s erro=%s"


def page_fault(retorno) -> str | None:
    """The rule and message of ``envelope_records``'s filter, in Python:
    None for a page of records or the empty-success page, else the fault."""
    ret = retorno if isinstance(retorno, dict) else {}
    first = (ret.get("erros") or [{}])[0] or {}
    # numbers as text, as the envelope schema's string fields read them
    fields = [
        None if v is None else str(v)
        for v in (ret.get("status"), ret.get("status_processamento"),
                  ret.get("codigo_erro"), first.get("erro"))
    ]
    status, processing, _, first_error = fields
    if status == "OK" and processing in (None, *OK_PROCESSING_STATUSES):
        return None
    if status not in (None, "OK") and NO_RECORDS_ERROR in (first_error or ""):
        return None
    return _FAULT % tuple("null" if v is None else v for v in fields)


def envelope_schema(record_field: str, wrapper: str, record_schema: T.StructType) -> T.StructType:
    """Schema of one page file: {"retorno": {..., records: [{wrapper: {...}}]}}."""
    return T.StructType(
        [
            T.StructField(
                "retorno",
                T.StructType(
                    [
                        T.StructField("status", T.StringType()),
                        T.StructField("status_processamento", T.StringType()),
                        T.StructField("codigo_erro", T.StringType()),
                        T.StructField(
                            "erros",
                            T.ArrayType(
                                T.StructType([T.StructField("erro", T.StringType())])
                            ),
                        ),
                        T.StructField("pagina", T.IntegerType()),
                        T.StructField("numero_paginas", T.IntegerType()),
                        T.StructField(
                            record_field,
                            T.ArrayType(
                                T.StructType(
                                    [T.StructField(wrapper, record_schema)]
                                )
                            ),
                        ),
                    ]
                ),
            )
        ]
    )


def envelope_records(raw: DataFrame, record_field: str, wrapper: str) -> DataFrame:
    """Envelope DataFrame (batch or streaming, read under
    ``envelope_schema``) → flat DataFrame of records.

    A page that breaks the status protocol raises when the result is
    first computed (the reference aborts the step, ref :352-353);
    empty-success pages contribute zero rows.
    """
    ret = F.col("retorno")
    # try_: an error page with empty ``erros`` is a fault, not an index error
    first_error = F.try_element_at(ret["erros"], F.lit(1))["erro"]
    is_empty_success = (ret["status"] != "OK") & (
        F.coalesce(first_error, F.lit("")).contains(NO_RECORDS_ERROR)
    )
    is_ok = (ret["status"] == "OK") & (
        ret["status_processamento"].isNull()
        | ret["status_processamento"].isin(*OK_PROCESSING_STATUSES)
    )
    fault = F.format_string(
        _FAULT, ret["status"], ret["status_processamento"], ret["codigo_erro"], first_error
    )
    keep = F.when(is_ok, True).when(is_empty_success, False).otherwise(F.raise_error(fault))

    return (
        raw.filter(keep)
        .select(F.explode(ret[record_field]).alias("__rec"))
        .select(F.col(f"__rec.{wrapper}.*"))
    )


def read_envelope_pages(
    spark: SparkSession,
    path: str,
    record_field: str,
    wrapper: str,
    record_schema: T.StructType,
) -> DataFrame:
    """Directory of page files → flat DataFrame of records."""
    schema = envelope_schema(record_field, wrapper, record_schema)
    raw = spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    return envelope_records(raw, record_field, wrapper)


def flatten_order_items(
    orders_df: DataFrame,
    order_key: str,
    items_col: str,
    item_wrapper: str,
) -> DataFrame:
    """Header/detail flatten: order rows with nested item arrays →
    one row per item carrying the order key.

    The contract of the elided ``search_pedidos_v2`` loader: order
    headers from /pedidos.pesquisa.php, items from /pedido.obter.php
    into ``pedido_itens`` (ref :37-38, DDL :89, README.md:11).
    """
    return orders_df.select(
        F.col(order_key),
        F.explode(F.col(items_col)).alias("__item"),
    ).select(F.col(order_key), F.col(f"__item.{item_wrapper}.*"))
