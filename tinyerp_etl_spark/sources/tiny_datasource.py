"""Custom Spark DataSource for paginated-envelope pages (Spark 4 API).

``sources/json_pages.py`` reads spooled pages with ``spark.read.json``
plus column-level protocol checks — the declarative path. This module
is the *connector* path: the same envelope protocol packaged as a
first-class ``spark.read.format("tiny_pages")`` / ``spark.readStream
.format("tiny_pages")`` source via the Python DataSource API, the way
a live REST source would ship to users of the engine; pages are judged
by the shared status rule, ``json_pages.page_fault``.

Mapping to the reference (tiny_api_v2_cliente.py):
- one page file == one API page response (envelope unwrap, ref
  :249-250; status protocol, ref :259-285),
- batch read: one input partition PER PAGE — partition planning in
  the driver, page parsing fanned out to executors (at 100 TB of
  spooled pages nothing is read on the driver),
- streaming read: offset == number of pages ingested, so a restart
  resumes at the next unseen page — exactly the reference's
  page-checkpoint/resume contract (ref :183-223) expressed as a
  Structured Streaming offset log.

Options:
- ``path``: directory of ``*.json`` page files (lexicographic order
  is page order — the spooler zero-pads page numbers),
- ``record_field``: envelope array field (e.g. ``produtos``),
- ``wrapper``: per-record wrapper key (e.g. ``produto``).

The user supplies the record schema with ``.schema(...)``; string,
integer and double fields are coerced from the JSON values, and a
value that does not coerce fails the read.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from tinyerp_etl_spark.sources.json_pages import page_fault


@dataclass
class PagePartition(InputPartition):
    path: str


def _coerce(value, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    return str(value)


def _parse_page(path: str, record_field: str, wrapper: str, schema: T.StructType):
    """Yield one tuple per record in a page file, enforcing the protocol."""
    with open(path, encoding="utf-8") as fh:
        retorno = json.load(fh).get("retorno")
    if (fault := page_fault(retorno)) is not None:
        raise RuntimeError(f"{os.path.basename(path)}: {fault}")
    if retorno["status"] != "OK":
        return  # success-with-empty (ref :281-282)
    for item in retorno.get(record_field) or []:
        rec = item.get(wrapper, {})
        yield tuple(_coerce(rec.get(f.name), f.dataType) for f in schema.fields)


def _page_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json")
    )


class _PageReader:
    """Options and per-page parsing shared by the batch and stream readers."""

    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.path = options["path"]
        self.record_field = options.get("record_field", "registros")
        self.wrapper = options.get("wrapper", "registro")

    def read(self, partition: PagePartition):
        yield from _parse_page(
            partition.path, self.record_field, self.wrapper, self.schema_
        )


class TinyPagesBatchReader(_PageReader, DataSourceReader):
    def partitions(self):
        # one partition per page: planning stays driver-side and tiny
        # (file names only); parsing runs on executors
        return [PagePartition(p) for p in _page_files(self.path)]


class TinyPagesStreamReader(_PageReader, DataSourceStreamReader):
    """Micro-batch reader: offset = count of pages already ingested.

    ``initialOffset`` -> 0 pages; each trigger ingests every page the
    spooler has landed since the last committed offset, one partition
    per new page. Restart-from-checkpoint replays exactly the
    uncommitted tail — the reference's resume-at-``pagina_salva + 1``
    (ref :217-220) with the offset log owning the bookkeeping.
    """

    def initialOffset(self):
        return {"pages": 0}

    def latestOffset(self):
        return {"pages": len(_page_files(self.path))}

    def partitions(self, start: dict, end: dict):
        files = _page_files(self.path)
        return [PagePartition(p) for p in files[start["pages"] : end["pages"]]]

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint log; no source-side state
        pass


class TinyPagesDataSource(DataSource):
    """``spark.read.format("tiny_pages")`` — register via
    ``spark.dataSource.register(TinyPagesDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "tiny_pages"

    def schema(self):
        # no inference on prod paths (SURVEY §1.4): caller must pass
        # an explicit record schema with .schema(...)
        raise ValueError(
            "tiny_pages requires an explicit record schema via .schema(...)"
        )

    def reader(self, schema: T.StructType) -> TinyPagesBatchReader:
        return TinyPagesBatchReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> TinyPagesStreamReader:
        return TinyPagesStreamReader(schema, dict(self.options))
