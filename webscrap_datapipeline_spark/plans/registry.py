"""Query registry — the driver-contract backbone.

Each query is a named pair (Spark plan builder, DuckDB oracle SQL).
``__spark_entry__.py`` exposes the registry to the driver; the pytest
suite runs the same comparison locally (row count + schema + order-
insensitive value hash) so the driver's correctness gate is never a
surprise.

Determinism rules every query follows (why: the oracle compare is an
exact value-hash, and Spark sums floats in partition order):
  * double aggregates go through DECIMAL (exact, order-independent),
    then one final cast to double that both engines perform on the same
    exact value;
  * averages are written as exact-decimal-sum / count — one identical
    IEEE division on both sides, never engine-internal ``avg``;
  * any top-k has a total-order tiebreak key;
  * dedup-by-key uses aggregation or row_number with a total order,
    never "keep whichever row came first".
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    """Register a (spark_fn, oracle_sql) pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# Export order. The driver verifies a 50-entry prefix of ``queries()``
# each round, so the order only decides which queries get a fresh driver
# row; local pytest parity checks every oracled query on every run.
# Least-recently-verified first rotates every query into that prefix
# within ceil(len(REGISTRY) / 50) rounds.
_RECORD_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def last_verified_rounds(record_dir: str = _RECORD_DIR) -> dict[str, int]:
    """{name: last round whose ``CORRECTNESS_r<round>.json`` row passed}.

    A row passes on ``hash_match is True`` for an oracled query and on
    ``err == "no_oracle"`` for a query without an oracle. The records are
    outside input: an unreadable or malformed file counts as no history.
    """
    last: dict[str, int] = {}
    for fname in os.listdir(record_dir):
        m = _RECORD.fullmatch(fname)
        if not m:
            continue
        try:
            with open(os.path.join(record_dir, fname)) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        rnd = int(m.group(1))
        for name, row in rows.items():
            if name not in REGISTRY or not isinstance(row, dict):
                continue
            if REGISTRY[name].oracle is not None:
                passed = row.get("hash_match") is True
            else:
                passed = row.get("err") == "no_oracle"
            if passed:
                last[name] = max(last.get(name, 0), rnd)
    return last


def rotation_order(names: Iterable[str], last_verified: Mapping[str, int]) -> list[str]:
    """Oldest verification first (round 0 = never verified), name as tiebreak."""
    return sorted(names, key=lambda n: (last_verified.get(n, 0), n))


def _export_order() -> list[str]:
    return rotation_order(REGISTRY, last_verified_rounds())


def queries() -> dict[str, QueryFn]:
    return {n: REGISTRY[n].fn for n in _export_order()}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY[n].oracle for n in _export_order() if REGISTRY[n].oracle is not None}
