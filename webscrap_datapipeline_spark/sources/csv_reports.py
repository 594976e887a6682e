"""Raw rate-report CSV source (reference S1/S2, src/process_files.py:47
and :65-72) — pipe-delimited per-location files whose filename embeds the
location code and a timestamp (FIXTURES.md A1).

Spark-first shape: ONE multi-file scan with an explicit schema replaces
the reference's per-file read loop + concat; per-file lineage (the
reference's per-file enrichment inputs) is recovered from the file
source's ``_metadata.file_path`` column, so the whole "read every file,
enrich, union" stage is a single lazy plan with no intermediate
materialization (the reference's ./data/processed hop existed only
because pandas couldn't hold the union — README.md:46).

Because ``_metadata.file_path`` is deterministic (``input_file_name()``
is not), a filter on a column derived from it — the hotel code — is
evaluated against the file listing when the scan is planned, and the
scan opens only the matching files: the reference's download-only-the-
changed-hotels IN-list (src/web_scrape.py:125) as file pruning.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Representative raw-report schema (FIXTURES.md A1). Column 14 (REF_CODE)
# is STRING by contract — the reference forces dtype={14: str} at
# src/process_files.py:47 to keep leading zeros; we declare it.
RAW_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("Rate Code", T.StringType()),
        T.StructField("Room Type", T.StringType()),
        T.StructField("Arrival Date", T.StringType()),
        T.StructField("Los", T.IntegerType()),
        T.StructField("Rate (USD)", T.DoubleType()),
        T.StructField("Base-Rate", T.DoubleType()),
        T.StructField("Differential", T.DoubleType()),
        T.StructField("Channel", T.StringType()),
        T.StructField("Status", T.StringType()),
        T.StructField("Min Stay", T.IntegerType()),
        T.StructField("Max Stay", T.IntegerType()),
        T.StructField("Closed To Arrival", T.StringType()),
        T.StructField("Closed To Departure", T.StringType()),
        T.StructField("Notes", T.StringType()),
        T.StructField("Ref Code", T.StringType()),  # index 14: MUST stay string
        T.StructField("Last Modified", T.StringType()),
    ]
)


_GLOB_CHARS = re.compile(r"[*?\[\]{}]")


def read_raw_reports(
    spark: SparkSession, path_glob: str, schema: T.StructType = RAW_REPORT_SCHEMA
) -> DataFrame:
    """Scan the raw pipe-delimited reports matching ``path_glob``
    (``<dir>/<file-name pattern>``, e.g. ``raw/*.csv``) in one pass,
    attaching per-file lineage as ``src_path``.

    The directory is read as ONE root path with the pattern as
    ``pathGlobFilter``. A ``<dir>/*.csv`` root would expand to one root
    path per file, and above ``spark.sql.sources.parallelPartitionDiscovery
    .threshold`` (32) root paths Spark lists them with a Spark job every
    time the frame is built. Wildcards above the last path component are
    rejected: a pattern can only filter file names."""
    parent, _, pattern = path_glob.rpartition("/")
    if _GLOB_CHARS.search(parent):
        raise ValueError(
            f"read_raw_reports: {path_glob!r} has wildcards above its last path "
            "component; pass '<dir>/<file-name pattern>'"
        )
    reader = spark.read.option("sep", "|").option("header", True).schema(schema)
    if _GLOB_CHARS.search(pattern):
        reader, path_glob = reader.option("pathGlobFilter", pattern), parent
    return reader.csv(path_glob).withColumn("src_path", F.col("_metadata.file_path"))


def write_reports(df: DataFrame, path: str, partition_col: str | None = "LOC_ID") -> None:
    """Enriched-layer sink (reference K1 per-file writes,
    src/process_files.py:57): one partitioned write replaces the per-file
    fan-out; partitionBy mirrors the per-hotel file layout for pruning."""
    w = df.write.mode("overwrite").option("header", True)
    if partition_col:
        w = w.partitionBy(partition_col)
    w.csv(path)
