"""The benchmark workloads.

Each workload is a closed loop with one client: the next op starts
when the previous one returns.  ``prepare`` spools the seeded inputs
(before the Spark session exists), ``setup`` bootstraps stores (the
dashboards warm up there), the runner then makes ``WARMUP_OPS`` untimed
``op`` calls; ``op`` runs one unit of work and returns the latency of
every op it completed, ``check`` verifies outputs after the timed
window, and ``layers`` turns the traced spans of the timed op calls
into per-layer numbers.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import pandas as pd

import gen
from spans import Span, Tracer


def _per_op(spans: list[Span], name: str, attr: str) -> float:
    return sum(getattr(s, attr) for s in spans if s.name == name)


def _rows(df: pd.DataFrame, key: list[str], vals: list[str]) -> dict[tuple, tuple]:
    return dict(zip(zip(*(df[c].tolist() for c in key)),
                    zip(*(df[c].tolist() for c in vals))))


class ErpSync:
    """Incremental order sync through ``etl.pipeline.run_pipeline``.

    One op is one cron tick with its own fixed ``now`` that lands one
    envelope page through both entities: ``pedidos`` MERGEs the order
    headers keyed on ``id`` (``versao`` picks the survivor) and
    ``pedido_itens`` MERGEs the items flattened by
    ``sources.json_pages.flatten_order_items``.  Every op does the
    same work, so the op latencies of a run form one cluster.  The
    order store starts with 150k seeded orders (sf0.1 ``orders``'
    size); the item store starts empty.  Ticks cycle through the spooled pages when a run outlasts
    them, re-sending them.
    """

    PAGES = 1
    PER_PAGE = 500
    RESEND_SHARE = 0.3
    ROUNDS = 8
    WARMUP_OPS = 2

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        gen.erp_bootstrap(seed, f"{work}/bootstrap")
        self.rounds = gen.erp_pages(seed, f"{work}/pages", self.ROUNDS, self.PAGES,
                                    self.PER_PAGE, self.RESEND_SHARE)

    def setup(self, spark, tracer: Tracer) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from tinyerp_etl_spark.etl.checkpoint import PageCheckpoint
        from tinyerp_etl_spark.etl.pipeline import EntitySync
        from tinyerp_etl_spark.etl.table_store import TableStore
        from tinyerp_etl_spark.etl.watermark import WatermarkStore
        from tinyerp_etl_spark.sources.json_pages import (
            flatten_order_items,
            read_envelope_pages,
        )

        self.spark, self.tracer = spark, tracer
        item = T.StructType([T.StructField("sequencia", T.LongType()),
                             T.StructField("codigo", T.LongType()),
                             T.StructField("quantidade", T.DoubleType()),
                             T.StructField("valor_unitario", T.DoubleType())])
        header = [T.StructField("id", T.LongType()),
                  T.StructField("numero", T.StringType()),
                  T.StructField("data_pedido", T.StringType()),
                  T.StructField("id_cliente", T.LongType()),
                  T.StructField("situacao", T.StringType()),
                  T.StructField("valor", T.DoubleType()),
                  T.StructField("versao", T.LongType())]
        record = T.StructType(header + [T.StructField(
            "itens", T.ArrayType(T.StructType([T.StructField("item", item)])))])
        items_schema = T.StructType([T.StructField("id_pedido", T.LongType())] + item.fields)
        self.pedidos = TableStore(spark, f"{self.work}/store/pedidos", T.StructType(header))
        self.itens = TableStore(spark, f"{self.work}/store/pedido_itens", items_schema)
        self.pedidos.commit(spark.read.parquet(f"{self.work}/bootstrap/pedidos.parquet"))
        self.watermarks = WatermarkStore(spark, f"{self.work}/store/watermarks")
        self.checkpoints = PageCheckpoint(spark, f"{self.work}/store/checkpoints")

        self.current: list[tuple[str, list[dict]]] = []

        def source(_filter_ts, page):
            with tracer.span("sources.json_pages.read"):
                df = read_envelope_pages(spark, self.current[page - 1][0], "pedidos",
                                         "pedido", record)
            return df, len(self.current)

        self.syncs = [
            EntitySync(name="pedidos", source=source, store=self.pedidos, keys=["id"],
                       order_by=[F.col("versao").desc()],
                       transform=lambda df: df.drop("itens")),
            EntitySync(name="pedido_itens", source=source, store=self.itens,
                       keys=["id_pedido", "sequencia"],
                       transform=lambda df: flatten_order_items(
                           df, "id", "itens", "item").withColumnRenamed("id", "id_pedido")),
        ]
        self.applied: list[list[dict]] = []
        self.n = 0
        self.failed = 0
        self.files: list[int] = []

    def op(self) -> list[float]:
        from tinyerp_etl_spark.etl.checkpoint import STATUS_DONE
        from tinyerp_etl_spark.etl.pipeline import run_pipeline

        r, self.n = self.n, self.n + 1
        self.current = self.rounds[r % self.ROUNDS]
        now = datetime(2024, 1, 31, 8, tzinfo=timezone.utc) + timedelta(hours=r)
        start = time.perf_counter()
        with self.tracer.span("etl.pipeline"):
            results = run_pipeline(self.spark, self.syncs, self.watermarks,
                                   self.checkpoints, now=now)
        end = time.perf_counter()
        if any(res.status != STATUS_DONE or res.pages != len(self.current)
               for res in results):
            self.failed += 1
        self.applied.extend(recs for _, recs in self.current)
        if self.tracer.enabled:
            self.files.append(self.pedidos.data_file_count())
        return [end - start]

    def check(self) -> tuple[bool, int]:
        """Compare both stores, row by row, with the bootstrap plus every
        applied page merged in order in Python."""
        want = _rows(pd.read_parquet(f"{self.work}/bootstrap/pedidos.parquet"),
                     ["id"], ["versao", "valor"])
        want_i = {}
        for recs in self.applied:
            for rec in recs:
                o = rec["pedido"]
                want[(o["id"],)] = (o["versao"], o["valor"])  # the page's row wins
                for it in o["itens"]:
                    i = it["item"]
                    want_i[(o["id"], i["sequencia"])] = (i["codigo"], i["quantidade"])
        got = self.pedidos.read().toPandas()
        got_i = self.itens.read().toPandas()
        ok = (len(got) == len(want) and len(got_i) == len(want_i)
              and _rows(got, ["id"], ["versao", "valor"]) == want
              and _rows(got_i, ["id_pedido", "sequencia"], ["codigo", "quantidade"]) == want_i)
        return ok and self.failed == 0, self.failed

    def layers(self, ops: list[list[Span]]) -> dict[str, float]:
        """Per-page medians over the timed ops."""
        per_page = 2 * self.PAGES

        def med(name, attr):
            return statistics.median(_per_op(spans, name, attr) / per_page for spans in ops)

        checkpoint_jobs = [
            sum(_per_op(spans, f"etl.checkpoint.{a}", "jobs")
                for a in ("start", "advance", "finish")) / per_page
            for spans in ops]
        return {
            "sources.json_pages.read_s": med("sources.json_pages.read", "seconds"),
            "sources.json_pages.jobs": med("sources.json_pages.read", "jobs"),
            "etl.table_store.commit_s": med("etl.table_store.commit", "seconds"),
            "etl.table_store.jobs": med("etl.table_store.commit", "jobs"),
            "etl.table_store.read_s": med("etl.table_store.read", "seconds"),
            "etl.table_store.files_per_version": statistics.median(self.files[-len(ops):]),
            "etl.checkpoint.advance_s": med("etl.checkpoint.advance", "seconds"),
            "etl.checkpoint.jobs": statistics.median(checkpoint_jobs),
            "etl.watermark.get_s": med("etl.watermark.get", "seconds"),
            "etl.watermark.commit_s": med("etl.watermark.commit", "seconds"),
            "etl.pipeline.self_s": med("etl.pipeline", "self_s"),
            "etl.pipeline.jobs": med("etl.pipeline", "jobs"),
        }


class ErpDashboards:
    """A fixed rotation of registered dashboard queries over the seeded
    star schema, each result collected to the client as pandas.  One
    call runs the whole rotation, so every run times the same query mix;
    each query is one op.  Set-up runs the rotation ``WARMUP_PASSES``
    times in parallel threads, so no query is timed cold."""

    QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
               "q10_returned_items", "q13_order_distribution",
               "q18_large_volume_customers", "window_latest_order_per_customer",
               "monthly_revenue_trend")
    WARMUP_OPS = 0
    WARMUP_PASSES = 1

    def prepare(self, work: str, seed: int) -> None:
        self.dir = f"{work}/tables"
        gen.write_tpch(seed, self.dir)

    def setup(self, spark, tracer: Tracer) -> None:
        from tinyerp_etl_spark.plans.registry import all_queries

        registry = all_queries()
        self.spark, self.tracer = spark, tracer
        self.fns = [(n, registry[n]) for n in self.QUERIES]
        self.results: dict[str, list[pd.DataFrame]] = {}
        self.failed = 0
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            for _ in range(self.WARMUP_PASSES):
                frames = pool.map(lambda nf: nf[1](spark, self.dir).toPandas(), self.fns)
                for (name, _), frame in zip(self.fns, frames):
                    self.results.setdefault(name, []).append(frame)

    def op(self) -> list[float]:
        lat = []
        for name, fn in self.fns:
            start = time.perf_counter()
            try:
                with self.tracer.span(f"query.{name}"):
                    with self.tracer.span("plans.relational.build"):
                        df = fn(self.spark, self.dir)
                    with self.tracer.span("plans.relational.exec"):
                        self.results[name].append(df.toPandas())
            except Exception:  # a failed query is counted, not fatal
                self.failed += 1
            lat.append(time.perf_counter() - start)
        return lat

    def check(self) -> tuple[bool, int]:
        """Each query's first warm-up result against its DuckDB oracle;
        every later result against that first one.  A timed op is wrong
        when its result differs or the reference is wrong."""
        import duckdb

        from tinyerp_etl_spark.plans.registry import all_oracles
        from tinyerp_etl_spark.testing import canonical_rows

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            wrong = 0
            for name, frames in self.results.items():
                want = con.execute(oracles[name]).df()
                first = _sorted(frames[0])
                same = [_sorted(f).equals(first) for f in frames]
                good = canonical_rows(frames[0]) == canonical_rows(want) and all(
                    same[:self.WARMUP_PASSES])
                wrong += sum(not (good and ok) for ok in same[self.WARMUP_PASSES:])
        finally:
            con.close()
        return wrong == 0 and self.failed == 0, wrong + self.failed

    def layers(self, ops: list[list[Span]]) -> dict[str, float]:
        """Per-query medians over the timed rotations; the
        ``plans.relational`` numbers are their mean over the queries."""
        per_query = {q: {} for q in self.QUERIES}  # query -> metric -> per-rotation values
        for spans in ops:
            for q in self.QUERIES:
                mine = [s for s in spans if _root(s).name == f"query.{q}"]
                row = {f"{p}_{a}": _per_op(mine, f"plans.relational.{p}", a)
                       for p in ("build", "exec") for a in ("seconds", "jobs", "stages", "tasks")}
                row["total"] = _per_op(mine, f"query.{q}", "seconds")
                for k, v in row.items():
                    per_query[q].setdefault(k, []).append(v)
        med = {q: {k: statistics.median(v) for k, v in m.items()} for q, m in per_query.items()}

        def mean(*keys):
            return statistics.mean(sum(m[k] for k in keys) for m in med.values())

        out = {"plans.relational.build_s": mean("build_seconds"),
               "plans.relational.exec_s": mean("exec_seconds")}
        for a in ("jobs", "stages", "tasks"):
            out[f"plans.relational.{a}"] = mean(f"build_{a}", f"exec_{a}")
        for q in self.QUERIES:
            out[f"query.{q}.p50_s"] = med[q]["total"]
        return out


class DocFold:
    """The span-dedup ingest loop: ordered ``doc_id`` batches through
    ``operators.span_index.clean_and_fold_batch``, which cleans each
    batch against the gram store's history, appends the cleaned rows
    to a second store and folds the batch's grams in.  Both stores
    are ``etl.table_store`` stores written append-only.  Set-up folds
    ``BOOT_DOCS`` documents as the history; one op is one step of
    ``BATCH`` documents.  A step runs some 35 Spark jobs, a few
    seconds, so it runs a fixed ``WARMUP_OPS + TRACED_OPS`` steps in
    the traced run of ``erp_sync`` (see ``TRACED_COMPANION``) rather
    than as a timed workload of its own."""

    BOOT_DOCS = 2000
    BATCH = 250
    WARMUP_OPS = 1
    TRACED_OPS = 3

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        os.makedirs(work, exist_ok=True)
        n = self.BOOT_DOCS + self.BATCH * (self.WARMUP_OPS + self.TRACED_OPS)
        gen.documents(seed, n).to_parquet(f"{work}/documents.parquet", index=False)

    def setup(self, spark, tracer: Tracer) -> None:
        from tinyerp_etl_spark.operators.span_index import span_gram_store

        self.spark, self.tracer = spark, tracer
        self.docs = spark.read.parquet(f"{self.work}/documents.parquet")
        self.index = f"{self.work}/store/span_index"
        self.cleaned = f"{self.work}/store/cleaned"
        self.grams = span_gram_store(spark, self.index)
        self.steps: list[tuple[int, int]] = []
        self.failed = 0
        self.versions: list[int] = []
        self.files: list[int] = []
        self._step(self.BOOT_DOCS)

    def _step(self, n: int) -> None:
        from pyspark.sql import functions as F

        from tinyerp_etl_spark.operators.span_index import clean_and_fold_batch

        lo = self.steps[-1][1] if self.steps else 0
        self.steps.append((lo, lo + n))
        batch = self.docs.where(F.col("doc_id").between(lo, lo + n - 1))
        clean_and_fold_batch(self.spark, self.index, batch, self.cleaned)

    def op(self) -> list[float]:
        start = time.perf_counter()
        try:
            with self.tracer.span("operators.span_index.step"):
                self._step(self.BATCH)
        except Exception:  # a failed step is counted, not fatal
            self.failed += 1
        end = time.perf_counter()
        if self.tracer.enabled:
            self.versions.append(len(self.grams.versions()))
            self.files.append(self.grams.data_file_count())
        return [end - start]

    def check(self) -> tuple[bool, int]:
        """The sequential ≡ one-shot law: each step's rows in the
        cleaned store equal ``operators.dedup.remove_dup_spans`` over
        the prefix up to and including that step, restricted to the
        step's documents.  Returns (all right, wrong or failed steps
        after set-up)."""
        from pyspark.sql import functions as F

        from tinyerp_etl_spark.operators.dedup import remove_dup_spans
        from tinyerp_etl_spark.operators.span_index import cleaned_docs_store_read

        cols = ["doc_id", "n_tokens", "n_removed_tokens", "clean_text"]
        got = _rows(cleaned_docs_store_read(self.spark, self.cleaned).toPandas(),
                    cols[:1], cols[1:])
        wrong = []
        for lo, hi in self.steps:
            want = _rows(remove_dup_spans(self.docs.where(F.col("doc_id") < hi))
                         .where(F.col("doc_id") >= lo).select(cols).toPandas(),
                         cols[:1], cols[1:])
            wrong.append(len(want) != hi - lo or any(got.get(d) != v for d, v in want.items()))
        removed = any(r[1] for r in got.values())  # the inputs do exercise the dedup
        ok = removed and len(got) == self.steps[-1][1] and not any(wrong)
        return ok and self.failed == 0, max(sum(wrong[1:]), self.failed)

    def layers(self, ops: list[list[Span]]) -> dict[str, float]:
        """Per-step medians over the traced steps; a step's job, stage
        and task counts include those of the store calls inside it."""
        def med(attr):
            return statistics.median(sum(getattr(s, attr) for s in spans) for spans in ops)

        return {
            "operators.span_index.step_s": statistics.median(
                _per_op(spans, "operators.span_index.step", "seconds") for spans in ops),
            "operators.span_index.jobs_per_step": med("jobs"),
            "operators.span_index.tasks_per_step": med("tasks"),
            "operators.span_index.versions": statistics.median(self.versions[-len(ops):]),
            "operators.span_index.files_per_version": statistics.median(self.files[-len(ops):]),
        }


def _root(s: Span) -> Span:
    while s.parent is not None:
        s = s.parent
    return s


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


WORKLOADS = {"erp_sync": ErpSync, "erp_dashboards": ErpDashboards}
# layers no timed workload reaches: the traced run of the key workload
# also runs the companion for a fixed number of traced ops
TRACED_COMPANION = {"erp_sync": DocFold}
