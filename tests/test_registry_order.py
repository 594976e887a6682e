"""The registry's export order: least-recently-verified first, name as
tiebreak. The driver verifies a 50-entry prefix of ``queries()`` each
round, so the order decides which queries get a fresh driver row. These
tests start no SparkSession.
"""

from __future__ import annotations

import json
import math
import os
import subprocess

from webscrap_datapipeline_spark import plans
from webscrap_datapipeline_spark.plans import registry
from webscrap_datapipeline_spark.plans.registry import REGISTRY

WINDOW = 50


def _rows_only() -> list[str]:
    return sorted(n for n, q in REGISTRY.items() if q.oracle is None)


def _oracled() -> list[str]:
    return sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


def _write(record_dir, rnd: int, rows) -> None:
    with open(os.path.join(record_dir, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


def test_exports_cover_exactly_the_registry():
    names = list(plans.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(REGISTRY)
    oracles = plans.oracle_sql()
    # same relative order, restricted to the oracled subset
    assert list(oracles) == [n for n in names if REGISTRY[n].oracle is not None]
    assert all(sql == REGISTRY[n].oracle for n, sql in oracles.items())


def test_every_query_reaches_the_window_within_ceil_n_over_50_rounds():
    rounds = math.ceil(len(REGISTRY) / WINDOW)
    assert rounds == 4  # 158 queries
    committed = registry.last_verified_rounds()
    assert committed  # the committed records parse
    for start in (committed, {}):
        history = dict(start)
        latest = max(history.values(), default=0)
        reached: set[str] = set()
        for rnd in range(latest + 1, latest + 1 + rounds):
            window = registry.rotation_order(REGISTRY, history)[:WINDOW]
            reached |= set(window)
            history |= {n: rnd for n in window}  # every window goes green
        assert reached == set(REGISTRY)


def test_rotation_order_is_oldest_first_then_name():
    names = ["d", "c", "b", "a"]
    assert registry.rotation_order(names, {}) == ["a", "b", "c", "d"]
    assert registry.rotation_order(names, {"a": 3, "b": 1, "d": 1}) == ["c", "b", "d", "a"]


def test_record_parsing_counts_only_passing_rows(tmp_path):
    oracled_a, oracled_b = _oracled()[:2]
    rows_only = _rows_only()[0]
    _write(tmp_path, 3, {
        oracled_a: {"hash_match": True, "err": None},
        oracled_b: {"hash_match": True, "err": None},
        rows_only: {"hash_match": None, "err": "no_oracle"},
    })
    _write(tmp_path, 5, {
        oracled_a: {"hash_match": False, "err": None},  # a failed row never counts
        oracled_b: {"hash_match": None, "err": "no_oracle"},  # not for an oracled query
        rows_only: {"hash_match": None, "err": "Traceback ..."},
        "not_a_registered_query": {"hash_match": True},
    })
    assert registry.last_verified_rounds(str(tmp_path)) == {
        oracled_a: 3,
        oracled_b: 3,
        rows_only: 3,
    }
    _write(tmp_path, 7, {oracled_a: {"hash_match": True}, rows_only: {"err": "no_oracle"}})
    assert registry.last_verified_rounds(str(tmp_path)) == {
        oracled_a: 7,
        oracled_b: 3,
        rows_only: 7,
    }


def test_unreadable_records_fall_back_to_no_history(tmp_path):
    name = _oracled()[0]
    _write(tmp_path, 2, {name: {"hash_match": True}})
    (tmp_path / "CORRECTNESS_r04.json").write_text('{"truncated": ')
    _write(tmp_path, 6, ["not", "a", "dict"])
    _write(tmp_path, 8, {name: "not a dict"})
    # listed by the directory, gone when opened
    os.symlink(tmp_path / "missing.json", tmp_path / "CORRECTNESS_r09.json")
    assert registry.last_verified_rounds(str(tmp_path)) == {name: 2}


def test_export_starts_no_subprocess(monkeypatch):
    calls = []
    real_popen, real_run = subprocess.Popen, subprocess.run

    def popen(*a, **k):
        calls.append(a[:1])
        return real_popen(*a, **k)

    def run(*a, **k):
        calls.append(a[:1])
        return real_run(*a, **k)

    monkeypatch.setattr(subprocess, "Popen", popen)
    monkeypatch.setattr(subprocess, "run", run)
    plans.queries()
    plans.oracle_sql()
    assert calls == []
