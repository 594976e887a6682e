"""Delta-scoped incremental cycle: a cycle scans only the changed
hotels' raw files, lists the raw directory without a Spark job, and
re-flags only the changed hotels' rows — with the same warehouse as a
full-warehouse recompute, on local paths and ``file://`` URIs alike."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

import webscrap_datapipeline_spark.pipeline as pipeline
from webscrap_datapipeline_spark.operators.change_detection import detect_changes
from webscrap_datapipeline_spark.operators.enrich import enrich_reports
from webscrap_datapipeline_spark.operators.scd import apply_current_flag
from webscrap_datapipeline_spark.pipeline import run_incremental
from webscrap_datapipeline_spark.sources.csv_reports import RAW_REPORT_SCHEMA, read_raw_reports
from webscrap_datapipeline_spark.sources.state_store import read_state

from .test_pipeline_e2e import HEADER, _available, _write_raw


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def _state(spark, path) -> dict[str, str]:
    return {r["key"]: r["last_seen_ts"] for r in read_state(spark, path).collect()}


def _hotel(i: int) -> str:
    return f"H{chr(65 + i // 26)}{chr(65 + i % 26)}"


def _run(spark, workspace, versions):
    w = workspace
    listing = _available(spark, sorted(versions.items()))
    return run_incremental(spark, listing, w["raw"] + "/*.csv", w["state"], w["warehouse"], w["log"])


def test_pipeline_runs_on_file_uris(spark, workspace, tmp_path):
    """Every path the pipeline publishes or probes goes through the
    Hadoop FileSystem, so ``file://`` URIs work like local paths."""
    uri = {k: "file://" + path for k, path in workspace.items()}
    raw = workspace["raw"]
    _write_raw(raw, "ALPHA", "08132026_10-00-00", 3)
    _write_raw(raw, "BRAVO", "08132026_10-30-00", 2)
    res = _run(spark, uri, {"ALPHA": "v1", "BRAVO": "v1"})
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (2, 5, 2)

    _write_raw(raw, "ALPHA", "08142026_09-00-00", 4)
    res = _run(spark, uri, {"ALPHA": "v2", "BRAVO": "v1"})
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (1, 9, 1)

    wh = spark.read.parquet(uri["warehouse"])
    cur = wh.filter(F.col("CURRENT_IND") == "Y").groupBy("LOC_ID", "SRC_FILENAME").count()
    assert {(r[0], r[1], r[2]) for r in cur.collect()} == {
        ("ALPHA", "ALPHA_08142026_09-00-00_modified.csv", 4),
        ("BRAVO", "BRAVO_08132026_10-30-00_modified.csv", 2),
    }
    assert wh.filter(F.col("CURRENT_IND").isNull()).count() == 3
    assert _state(spark, uri["state"]) == {"ALPHA": "v2", "BRAVO": "v1"}
    assert spark.read.parquet(uri["log"]).count() == 3
    # nothing left behind by the staged publishes
    assert sorted(os.listdir(tmp_path)) == ["log.parquet", "raw", "state.json", "warehouse.parquet"]


def _write_lines(dirpath: str, code: str, ts: str, lines: list[str]) -> None:
    with open(os.path.join(dirpath, f"{code}_{ts}.csv"), "w") as fh:
        fh.write(HEADER + "\n" + "".join(line + "\n" for line in lines))


def _full_recompute(spark, workspace, versions, snapshot):
    """apply_current_flag over the WHOLE current warehouse plus every raw
    file of the keys this cycle will see as changed (already-loaded
    files included: its exact-duplicate collapse must absorb them)."""
    listing = _available(spark, sorted(versions.items()))
    state = read_state(spark, workspace["state"])
    changed = [r["key"] for r in detect_changes(listing, state, "key", "last_seen_ts").collect()]
    incoming = enrich_reports(read_raw_reports(spark, workspace["raw"] + "/*.csv")).filter(
        F.col("LOC_ID").isin(changed)
    )
    if os.path.exists(workspace["warehouse"]):
        shutil.rmtree(snapshot, ignore_errors=True)
        shutil.copytree(workspace["warehouse"], snapshot)
        existing = spark.read.parquet(snapshot)
    else:
        existing = incoming.limit(0)
    want = apply_current_flag(existing, incoming, key="LOC_ID", ts="LST_UPDT_TS", tiebreak="SRC_FILENAME")
    return want.columns, _rows(want), len(changed)


def _assert_warehouse(spark, workspace, want):
    columns, rows, _ = want
    got = spark.read.parquet(workspace["warehouse"])
    assert got.columns == columns
    assert _rows(got) == rows


def _cycle_matches_full_recompute(spark, workspace, versions, snapshot):
    """Run one cycle; its warehouse must equal the full recompute."""
    want = _full_recompute(spark, workspace, versions, snapshot)
    res = _run(spark, workspace, versions)
    _assert_warehouse(spark, workspace, want)
    assert (res.changed_keys, res.loaded_rows) == (want[2], len(want[1]))
    return want[1]


def test_slice_scoped_merge_matches_full_recompute(spark, workspace, tmp_path, monkeypatch):
    """Three cycles through the edge cases of the slice-scoped merge; after
    each one the warehouse (rows and CURRENT_IND) equals the
    full-warehouse recompute."""
    snapshot = str(tmp_path / "snapshot.parquet")
    raw = workspace["raw"]

    # cycle 1: ALPHA publishes two files at once; BRAVO's file repeats a
    # row; CHARLIE is listed but its file never arrives; DELTA is plain
    _write_raw(raw, "ALPHA", "08132026_10-00-00", 3)
    _write_raw(raw, "ALPHA", "08132026_11-00-00", 2)
    dup = "R0|KING|2026-08-10|1|100.0|90.0|10.0|WEB|OPEN|1|7|N|N||00000|2026-08-01 00:00:00"
    _write_lines(raw, "BRAVO", "08132026_10-00-00", [dup, dup, dup.replace("R0|", "R1|")])
    _write_raw(raw, "DELTA", "08132026_10-00-00", 2)
    v1 = {"ALPHA": "a1", "BRAVO": "b1", "CHARLIE": "c1", "DELTA": "d1"}
    rows = _cycle_matches_full_recompute(spark, workspace, v1, snapshot)
    assert len(rows) == 3 + 2 + 2 + 2  # BRAVO's repeated row collapsed
    assert _state(spark, workspace["state"]) == {"ALPHA": "a1", "BRAVO": "b1", "DELTA": "d1"}

    # cycle 2: BRAVO publishes again, CHARLIE's file finally arrives, ECHO
    # is new; ALPHA and DELTA are untouched and pass through
    _write_raw(raw, "BRAVO", "08142026_10-00-00", 4)
    _write_raw(raw, "CHARLIE", "08142026_10-00-00", 3)
    _write_raw(raw, "ECHO", "08142026_10-00-00", 1)
    v2 = {**v1, "BRAVO": "b2", "ECHO": "e1"}
    rows = _cycle_matches_full_recompute(spark, workspace, v2, snapshot)
    assert len(rows) == 9 + 4 + 3 + 1
    assert _state(spark, workspace["state"]) == v2

    # cycle 3 crashes after the warehouse swap, before the state commit;
    # the replay re-detects the same keys and must not load twice
    _write_raw(raw, "ALPHA", "08152026_10-00-00", 5)
    _write_raw(raw, "DELTA", "08152026_10-00-00", 1)
    v3 = {**v2, "ALPHA": "a2", "DELTA": "d2"}

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash before the state commit")

    want = _full_recompute(spark, workspace, v3, snapshot)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "commit_state", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            _run(spark, workspace, v3)
    _assert_warehouse(spark, workspace, want)  # the swap happened
    assert len(want[1]) == 17 + 5 + 1
    assert _state(spark, workspace["state"]) == v2  # the watermark did not move
    replayed = _cycle_matches_full_recompute(spark, workspace, v3, snapshot)
    assert replayed == want[1]
    assert _state(spark, workspace["state"]) == v3

    wh = spark.read.parquet(workspace["warehouse"])
    cur = wh.filter(F.col("CURRENT_IND") == "Y").groupBy("LOC_ID").agg(F.max("SRC_FILENAME"), F.count("*"))
    assert {tuple(r) for r in cur.collect()} == {
        ("ALPHA", "ALPHA_08152026_10-00-00_modified.csv", 5),
        ("BRAVO", "BRAVO_08142026_10-00-00_modified.csv", 4),
        ("CHARLIE", "CHARLIE_08142026_10-00-00_modified.csv", 3),
        ("DELTA", "DELTA_08152026_10-00-00_modified.csv", 1),
        ("ECHO", "ECHO_08142026_10-00-00_modified.csv", 1),
    }


def _csv_scans_since(spark, first_execution: int) -> list[int]:
    """``number of files read`` of every CSV scan in the SQL executions
    with an id of at least ``first_execution``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid < first_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name().strip() != "Scan csv":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                if metric.name() == "number of files read":
                    out.append(int(values.apply(metric.accumulatorId())))
    return out


def _next_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return 1 + max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def test_delta_cycle_scans_only_changed_hotels_files(spark, workspace):
    codes = [_hotel(i) for i in range(12)]
    for code in codes:
        _write_raw(workspace["raw"], code, "08132026_10-00-00", 2)
    _run(spark, workspace, {c: "v1" for c in codes})

    # a delta cycle: three hotels publish, one of them twice
    changed = codes[:3]
    for code in changed:
        _write_raw(workspace["raw"], code, "08142026_10-00-00", 2)
    _write_raw(workspace["raw"], changed[0], "08142026_11-00-00", 2)
    first = _next_execution_id(spark)
    res = _run(spark, workspace, {c: ("v2" if c in changed else "v1") for c in codes})
    assert res.changed_keys == 3
    # every raw file of the changed hotels (both cycles'), none of the
    # other nine hotels'
    assert _csv_scans_since(spark, first) == [3 + 3 + 1]


def test_building_raw_scan_over_many_files_runs_no_job(spark, tmp_path):
    """Above parallelPartitionDiscovery.threshold (32) root paths Spark
    lists them with a job; the reader keeps one root path."""
    for i in range(40):
        _write_raw(str(tmp_path), _hotel(i), "08132026_10-00-00", 1)
    glob = str(tmp_path) + "/*.csv"
    sc = spark.sparkContext
    try:
        sc.setJobGroup("raw-scan-build", "read_raw_reports")
        df = read_raw_reports(spark, glob)
        assert list(sc.statusTracker().getJobIdsForGroup("raw-scan-build")) == []
        # the same glob as root paths does start the listing job
        sc.setJobGroup("raw-scan-build-glob", "csv(glob)")
        spark.read.schema(RAW_REPORT_SCHEMA).option("sep", "|").option("header", True).csv(glob)
        assert list(sc.statusTracker().getJobIdsForGroup("raw-scan-build-glob")) != []
    finally:
        sc._jsc.clearJobGroup()
    assert df.count() == 40


def test_read_raw_reports_rejects_wildcards_above_file_name(spark):
    glob = "/data/*/raw/*.csv"
    with pytest.raises(ValueError, match=re.escape(repr(glob))):
        read_raw_reports(spark, glob)
