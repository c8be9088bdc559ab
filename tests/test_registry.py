"""The registry's query names, their order and the oracle set are pinned.

The correctness gate covers the first 50 registry entries, so
insertion order is part of the contract: an edit to the registry that
drops, adds or reorders a name must show up here.
"""

from __future__ import annotations

import hashlib

from tinyerp_etl_spark.plans.registry import all_oracles, all_queries


def _digest(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_query_names_and_order_are_pinned():
    names = list(all_queries())
    assert len(names) == 202
    assert _digest(names) == (
        "e6d0f2c33b04e1fb1a1f5e43279902c1492a495f3d3707048e02eba6602ac9f2"
    )


def test_oracle_set_is_pinned():
    oracles = sorted(all_oracles())
    assert len(oracles) == 202
    assert _digest(oracles) == (
        "084039114cd18d2b16451e58a0812753eca6f0e78e9f49d81b074a5d97b6503e"
    )
