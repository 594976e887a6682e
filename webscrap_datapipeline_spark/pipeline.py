"""End-to-end incremental pipeline — the Spark re-expression of the
reference's main() (main.py:30-112, traced in SURVEY.md §3.1):

  available keys (source listing)            ─┐
  state (JSON watermark store)                ├→ detect_changes (anti-join)
  fetch changed keys (mapPartitions scaffold) ─┘        │
  enrich (one lazy plan over the raw scan)              │
  warehouse append + SCD current-flag                   │
  audit log append                                      │
  state commit (ONLY after loads succeed — ST2)  ←──────┘

A delta cycle's work follows the changed hotels, not the history:

  * scans: the changed keys are collected once (the cycle's first
    job); the raw scan is one root directory listed on the driver, and
    the ``LOC_ID IN (keys)`` filter prunes it to the changed hotels'
    files when it is planned (the reference downloads only those files,
    src/web_scrape.py:125). The log and the state read the new
    warehouse's current rows through the same filter.
  * rewrites: the warehouse is rewritten whole (it is one flat table),
    but only the changed hotels' rows are re-deduplicated and
    re-flagged (the reference's UPDATE de-flags only those hotels,
    src/gcp_processes.py:29-47); the other hotels' rows pass through
    unchanged, with no shuffle.
  * runs: three writes (warehouse, log, state) plus the key collect,
    one warehouse schema read and the row count.

The changed frame is cached before use so Spark's recompute-on-failure
can't re-fire side effects.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import fs_exists, fs_replace
from .operators.change_detection import detect_changes, update_state
from .operators.enrich import enrich_reports
from .operators.log_table import build_log_table
from .operators.scd import apply_current_flag
from .sources.csv_reports import read_raw_reports
from .sources.state_store import commit_state, read_state
from .sources.validation import quarantine


@dataclass
class PipelineResult:
    changed_keys: int
    loaded_rows: int
    log_rows: int
    quarantined_rows: int = 0


def run_incremental(
    spark: SparkSession,
    available: DataFrame,  # columns: key, last_seen_ts (FIXTURES.md A4)
    raw_glob: str,
    state_path: str,
    warehouse_path: str,
    log_path: str,
    quarantine_rules: dict | None = None,
    quarantine_path: str | None = None,
) -> PipelineResult:
    """One incremental cycle. ``available`` is the already-fetched source
    listing (the scrape scaffold produces it in production; tests build it
    directly — the pipeline is pure downstream of it). ``raw_glob`` is
    ``<dir>/<file-name pattern>`` (see ``read_raw_reports``)."""
    state = read_state(spark, state_path)
    changed = detect_changes(available, state, "key", "last_seen_ts").cache()
    keys = [r.key for r in changed.select("key").collect()]
    if not keys:
        changed.unpersist()
        return PipelineResult(0, 0, 0)  # early-exit (reference main.py:58-59)
    # NULL-safe: a row with no LOC_ID is never part of the delta
    in_delta = F.coalesce(F.col("LOC_ID").isin(keys), F.lit(False))

    # Enrich the changed hotels' raw files in one scan; the key filter
    # prunes the other hotels' files when the scan is planned.
    enriched = enrich_reports(read_raw_reports(spark, raw_glob)).filter(in_delta)

    # Optional row quarantine (ST4 generalized): rule violations leave
    # the load path as DATA (reprocessable, with reasons) instead of
    # being swallowed like the reference's per-row try/except.
    n_quarantined = 0
    if quarantine_rules:
        enriched, bad = quarantine(enriched, quarantine_rules)
        if quarantine_path is not None:
            bad.write.mode("append").parquet(quarantine_path)
            n_quarantined = spark.read.parquet(quarantine_path).count()
        else:
            n_quarantined = bad.count()

    # Warehouse append with SCD current-flag maintenance (K5+K3). The
    # flag and the exact-duplicate collapse are both per key, so only the
    # changed hotels' slice is recomputed; the rest is copied through.
    if fs_exists(spark, warehouse_path):
        existing = spark.read.parquet(warehouse_path)
        touched = existing.filter(in_delta)
        # ingest only files not already loaded (the reference relied on
        # emptying its raw dir each run, K6; lineage anti-join replaces
        # that filesystem lifecycle and is replay-safe)
        enriched = enriched.join(
            touched.select("LOC_ID", "SRC_FILENAME").distinct(),
            ["LOC_ID", "SRC_FILENAME"],
            "left_anti",
        )
        merged = existing.filter(~in_delta).unionByName(
            apply_current_flag(
                touched, enriched, key="LOC_ID", ts="LST_UPDT_TS", tiebreak="SRC_FILENAME"
            )
        )
    else:
        merged = apply_current_flag(
            enriched.limit(0), enriched, key="LOC_ID", ts="LST_UPDT_TS", tiebreak="SRC_FILENAME"
        )
    tmp = warehouse_path + ".staging"
    merged.write.mode("overwrite").parquet(tmp)
    fs_replace(spark, tmp, warehouse_path)
    # the schema just written: reading it back needs no footer job
    warehouse = spark.read.schema(merged.schema).parquet(warehouse_path)
    loaded = warehouse.count()
    current = warehouse.filter((F.col("CURRENT_IND") == "Y") & in_delta)

    # Audit log (ST5): every changed key gets a row; keys whose file never
    # arrived get the NULL row (J4 left-outer semantics). One row per
    # distinct requested key, so the log holds len(keys) new rows.
    log_df = build_log_table(changed.select(F.col("key").alias("LOC_ID")), current)
    log_df.write.mode("append").parquet(log_path)

    # State commit LAST (ST2): only keys that made it into the warehouse
    # advance the watermark, so failures retry next cycle.
    loaded_keys = current.select(F.col("LOC_ID").alias("key")).distinct()
    updates = changed.join(loaded_keys, "key", "left_semi").select("key", "last_seen_ts")
    new_state = update_state(
        state.withColumnRenamed("last_seen_ts", "ts_state"),
        updates.withColumnRenamed("last_seen_ts", "ts_state"),
        key="key",
        ts="ts_state",
    ).withColumnRenamed("ts_state", "last_seen_ts")
    commit_state(new_state, state_path)

    changed.unpersist()
    return PipelineResult(len(keys), loaded, len(keys), n_quarantined)
