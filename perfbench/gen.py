"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files.  Shapes follow the engine's sf0.1 test tables
(the TPC-H-like star schema) and the Tiny ERP v2 ``{"retorno": ...}``
order envelopes the sync reads.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's test tables
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_STATUSES = np.array(["F", "O", "P"])
_SITUACOES = np.array(["aberto", "aprovado", "faturado", "entregue", "cancelado"])


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n).astype("datetime64[D]")).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def write_tpch(seed: int, out_dir: str) -> None:
    """The six star-schema tables the dashboard queries read, at
    sf0.1 size, one parquet file each (``<out_dir>/<name>.parquet``)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()
    _write({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS},
           f"{out_dir}/region.parquet")
    _write({"n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
           f"{out_dir}/nation.parquet")
    _write({"c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER)},
           f"{out_dir}/customer.parquet")
    _write({"s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPPLIER)},
           f"{out_dir}/supplier.parquet")
    orders = order_rows(rng, N_ORDERS)
    _write({"o_orderkey": orders["id"],
            "o_custkey": orders["cust"],
            "o_orderstatus": rng.choice(_STATUSES, N_ORDERS),
            "o_totalprice": orders["valor"],
            "o_orderdate": orders["date"],
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS)},
           f"{out_dir}/orders.parquet")
    n = N_LINEITEM
    _write({"l_orderkey": rng.integers(0, N_ORDERS, n),
            "l_partkey": rng.integers(0, N_PART, n),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)},
           f"{out_dir}/lineitem.parquet")


def order_rows(rng: np.random.Generator, n: int) -> dict:
    """``n`` order headers with ids 0..n-1."""
    return {
        "id": np.arange(n, dtype=np.int64),
        "cust": rng.integers(0, N_CUSTOMER, n),
        "valor": _cents(rng, 1000.0, 500000.0, n),
        "date": _days(rng, "1995-01-01", "2001-08-01", n),
    }


# ---------------------------------------------------------------- erp_sync


def erp_bootstrap(seed: int, out_dir: str) -> None:
    """The order store's starting contents, sf0.1 ``orders`` in the
    sync's own schema: ``pedidos.parquet`` (headers, versao 0)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    o = order_rows(rng, N_ORDERS)
    _write({"id": o["id"],
            "numero": np.char.add("PV-", o["id"].astype(str)),
            "data_pedido": _br_dates(o["date"]),
            "id_cliente": o["cust"],
            "situacao": rng.choice(_SITUACOES, N_ORDERS),
            "valor": o["valor"],
            "versao": np.zeros(N_ORDERS, dtype=np.int64)},
           f"{out_dir}/pedidos.parquet")


def _item_seq(per: np.ndarray) -> np.ndarray:
    """1..per[i] for each order i, concatenated."""
    starts = np.repeat(np.cumsum(per) - per, per)
    return np.arange(int(per.sum()), dtype=np.int64) - starts + 1


def _br_dates(days: np.ndarray) -> list[str]:
    """dd/mm/yyyy, the Tiny API's date format."""
    return [f"{d[8:10]}/{d[5:7]}/{d[:4]}" for d in np.datetime_as_string(days, unit="D")]


def erp_pages(seed: int, out_dir: str, n_rounds: int, pages: int, per_page: int,
              resend_share: float) -> list[list[tuple[str, list[dict]]]]:
    """Spool ``n_rounds`` sync rounds of ``pages`` envelope pages each.

    Each page holds ``per_page`` distinct orders with 1-7 nested items;
    a ``resend_share`` of them re-send already-stored ids at a higher
    ``versao`` (the reference's 60-day safety-window overlap), the rest
    are new ids.  Returns, per round, each page's path and its order
    records as written.
    """
    rng = np.random.default_rng([seed, 3])
    next_id = N_ORDERS
    versao = 0
    out = []
    for r in range(n_rounds):
        rdir = os.path.join(out_dir, f"round_{r:03d}")
        os.makedirs(rdir, exist_ok=True)
        spooled = []
        for p in range(1, pages + 1):
            versao += 1
            n_old = int(per_page * resend_share)
            ids = np.concatenate([rng.choice(next_id, n_old, replace=False),
                                  np.arange(next_id, next_id + per_page - n_old)])
            next_id += per_page - n_old
            o = order_rows(rng, per_page)
            per = rng.integers(1, 8, per_page)
            m = int(per.sum())
            items = zip(_item_seq(per).tolist(), rng.integers(0, N_PART, m).tolist(),
                        rng.integers(1, 51, m).tolist(),
                        rng.integers(100, 200_001, m).tolist())
            dates = _br_dates(o["date"])
            recs = []
            for i, oid in enumerate(ids.tolist()):
                itens = [{"item": {"sequencia": s, "codigo": c, "quantidade": float(q),
                                   "valor_unitario": v / 100.0}}
                         for s, c, q, v in (next(items) for _ in range(int(per[i])))]
                recs.append({"pedido": {
                    "id": oid, "numero": f"PV-{oid}", "data_pedido": dates[i],
                    "id_cliente": int(o["cust"][i]),
                    "situacao": str(_SITUACOES[i % len(_SITUACOES)]),
                    "valor": float(o["valor"][i]), "versao": versao,
                    "itens": itens}})
            env = {"retorno": {"status": "OK", "status_processamento": "3",
                               "pagina": p, "numero_paginas": pages, "pedidos": recs}}
            path = os.path.join(rdir, f"page_{p:03d}.json")
            with open(path, "w") as f:
                json.dump(env, f, separators=(",", ":"))
            spooled.append((path, recs))
        out.append(spooled)
    return out


# ---------------------------------------------------------------- doc_fold

_WORDS = np.array(
    "a agg batch big column data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table value vector window sink shard "
    "index".split())


def documents(seed: int, n: int) -> pd.DataFrame:
    """``n`` documents shaped like sf0.1 ``documents`` (doc_id, text):
    10-100 tokens over a 31-word vocabulary, ids 0..n-1 in ingest
    order.  A tenth of them splice in a run of 8-24 tokens
    copied from an earlier document, so spans repeat across
    documents the way the test corpus's do."""
    rng = np.random.default_rng([seed, 4])
    lens = rng.integers(10, 101, n)
    toks = [_WORDS[rng.integers(0, len(_WORDS), m)].tolist() for m in lens]
    for i in np.flatnonzero(rng.random(n) < 0.1).tolist():
        src = toks[int(rng.integers(0, i))] if i else []
        m = min(len(src), int(rng.integers(8, 25)))
        if m < 8:
            continue
        a = int(rng.integers(0, len(src) - m + 1))
        at = int(rng.integers(0, len(toks[i]) + 1))
        toks[i][at:at] = src[a:a + m]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": [" ".join(t) for t in toks]})
