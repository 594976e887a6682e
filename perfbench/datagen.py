"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed and
sizes write byte-identical inputs. The engine only ever sees the files.

* :func:`write_tables` writes the ten parquet tables the query registry
  reads (the TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), in the shapes and value domains of the engine's own
  test corpus (FIXTURES.md section B).
* :func:`hotel_report_plan` lays out the hourly ETL scenario: which
  hotel publishes a pipe-delimited rate report in which cycle
  (FIXTURES.md A1), written by :func:`write_hotel_report`.
* :func:`stream_doc_batches` makes the stream's micro-batch files of
  synthetic documents, a planted share of them near-duplicates of
  corpus documents.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column stream data small big join filter "
    "vector customer group order query"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "new", "old")
PART_NOUN = ("ring", "plate", "gear", "anvil", "gizmo", "widget", "rod", "bolt")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EMBED_DIM = 64


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def random_text(rng: np.random.Generator, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(lo, hi + 1))))


def _documents(rng: np.random.Generator, n: int, dup_frac: float = 0.05) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            # near-duplicate of an earlier doc: same text plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(random_text(rng))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def table_sizes(sf: float, min_docs: int = 500, docs: int | None = None) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf 1 = 6M lineitems);
    ``docs`` overrides the ``documents`` row count."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "lineitem": max(200, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": docs or max(min_docs, int(50_000 * sf)),
        "embeddings": max(min_docs, int(20_000 * sf)),
    }


def write_tables(
    out_dir: str, sf: float, seed: int, min_docs: int = 500, docs: int | None = None
) -> dict[str, int]:
    """Write the ten registry tables as ``<out_dir>/<name>.parquet``;
    returns their row counts."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf, min_docs, docs)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(SEGMENTS, k),
        }
    )
    k = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
        }
    )
    k = n["orders"]
    day = 86_400
    order_day = rng.integers(0, 2404, k)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": rng.choice(("O", "F", "P"), k),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_day * day),
            "o_orderpriority": rng.choice(PRIORITIES, k),
        }
    )
    k = n["lineitem"]
    lo = rng.integers(0, n["orders"], k)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lo, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(("N", "A", "R"), k),
            "l_linestatus": rng.choice(("O", "F"), k),
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 1), (order_day[lo] + rng.integers(1, 122, k)) * day
            ),
        }
    )
    k = n["events"]
    span = 30 * day
    gaps = rng.exponential(span / k, k)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
            "user_id": pa.array(rng.integers(0, max(10, k // 66), k), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.round(rng.exponential(60.0, k), 2),
            "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def write_documents(out_dir: str, sf: float, seed: int, min_docs: int = 500) -> int:
    """Write only the ``documents`` table (the stream's corpus); returns
    its row count."""
    n = table_sizes(sf, min_docs)["documents"]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(np.random.default_rng([seed, 5]), n), os.path.join(out_dir, "documents.parquet"))
    return n


# --- hourly ETL -----------------------------------------------------------

REPORT_HEADER = (
    "Rate Code|Room Type|Arrival Date|Los|Rate (USD)|Base-Rate|Differential|"
    "Channel|Status|Min Stay|Max Stay|Closed To Arrival|Closed To Departure|"
    "Notes|Ref Code|Last Modified"
)
ROOMS = ("KING", "QUEEN", "DOUBLE", "SUITE")
CHANNELS = ("WEB", "GDS", "PHONE", "OTA")


def hotel_code(i: int) -> str:
    """Letters-only hotel code. The engine takes the first run of
    capital letters in a report's file name as its hotel code, so a
    digit in the code would silently truncate it."""
    letters = string.ascii_uppercase
    out = ""
    for _ in range(5):
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


@dataclass(frozen=True)
class Report:
    cycle: int
    hotel: str
    file_name: str
    last_seen_ts: str  # the source listing's watermark for this report
    rows: int


def hotel_report_plan(
    hotels: int, delta_cycles: int, delta_frac: float, rows: int, seed: int
) -> list[list[Report]]:
    """Reports published per cycle: cycle 0 is the backfill (every hotel
    publishes), cycles 1..``delta_cycles`` each have a seeded
    ``delta_frac`` of the hotels publish a new report."""
    rng = np.random.default_rng([seed, 2])
    start = dt.datetime(2026, 8, 13, 0, 0, 0)
    n_delta = max(1, int(round(hotels * delta_frac)))
    plan = []
    for cycle in range(delta_cycles + 1):
        who = range(hotels) if cycle == 0 else sorted(rng.choice(hotels, n_delta, replace=False))
        reports = []
        for h in who:
            ts = start + dt.timedelta(hours=cycle, seconds=int(h) % 3600)
            code = hotel_code(int(h))
            reports.append(
                Report(
                    cycle,
                    code,
                    f"{code}_{ts:%m%d%Y_%H-%M-%S}.csv",
                    f"{ts:%Y-%m-%d %H:%M:%S}",
                    rows,
                )
            )
        plan.append(reports)
    return plan


def write_hotel_report(path: str, report: Report, seed: int) -> None:
    rng = np.random.default_rng([seed, 3, report.cycle, int.from_bytes(report.hotel.encode(), "big")])
    n = report.rows
    rate = np.round(rng.uniform(80.0, 450.0, n), 2)
    base = np.round(rate * rng.uniform(0.8, 1.0, n), 2)
    room = rng.choice(ROOMS, n)
    chan = rng.choice(CHANNELS, n)
    arrive = rng.integers(0, 90, n)
    los = rng.integers(1, 8, n)
    with open(path, "w") as fh:
        fh.write(REPORT_HEADER + "\n")
        for i in range(n):
            day = dt.date(2026, 9, 1) + dt.timedelta(days=int(arrive[i]))
            fh.write(
                f"R{i:05d}|{room[i]}|{day:%Y-%m-%d}|{los[i]}|{rate[i]}|{base[i]}|"
                f"{round(rate[i] - base[i], 2)}|{chan[i]}|OPEN|1|{los[i] + 3}|N|N||"
                f"0{i:05d}|{report.last_seen_ts}\n"
            )


# --- streaming dedup ------------------------------------------------------


def stream_doc_batches(
    corpus_texts: list[tuple[int, str]],
    batches: int,
    docs_per_batch: int,
    planted_frac: float,
    seed: int,
    first_id: int = 10_000_000,
) -> tuple[list[list[dict]], set[tuple[int, int]]]:
    """Micro-batches of ``{"doc_id", "text"}`` records. A seeded
    ``planted_frac`` of each batch copies a corpus document's text plus
    one token (shingle Jaccard ~0.97, far above the LSH threshold).
    Returns the batches and the planted ``(new_doc, corpus_doc)`` pairs."""
    rng = np.random.default_rng([seed, 4])
    planted: set[tuple[int, int]] = set()
    out = []
    next_id = first_id
    for _ in range(batches):
        batch = []
        for _ in range(docs_per_batch):
            if rng.random() < planted_frac:
                cid, text = corpus_texts[int(rng.integers(0, len(corpus_texts)))]
                text = f"{text} {WORDS[int(rng.integers(0, len(WORDS)))]}"
                planted.add((next_id, cid))
            else:
                # longer than the corpus docs' minimum so that chance
                # overlaps with the corpus stay below the LSH threshold
                text = random_text(rng, 40, 100)
            batch.append({"doc_id": next_id, "text": text})
            next_id += 1
        out.append(batch)
    return out, planted
