"""Source/sink abstraction: Iceberg in production, parquet in this sandbox.

The north rule's input is an Iceberg table of transcripts; no Iceberg
runtime jar ships in this container, so the reader dispatches on the
location: a catalog table name (``db.table`` / ``cat.db.table``) reads via
``format("iceberg")``; a filesystem path reads parquet with the same
schema. Everything downstream is format-agnostic DataFrames, so swapping
the lakehouse in is this one dispatch.

Scale notes: Iceberg supplies partition pruning + split planning from its
manifests; the parquet path relies on directory layout + footer stats.
Sinks mirror the dispatch; the fan-out writer (route.write_fanout) accepts
the returned writer format.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_TABLE_RE = re.compile(r"^[A-Za-z_][\w]*(\.[A-Za-z_][\w]*){1,2}$")
# bare filenames like 'transcripts.parquet' would otherwise match the
# db.table shape and mis-dispatch to format("iceberg")
_FILE_EXT_RE = re.compile(
    r"\.(parquet|json|jsonl|csv|tsv|orc|avro|txt|log|gz|zst|snappy)$", re.IGNORECASE
)


def is_table_ref(location: str) -> bool:
    """``db.table`` / ``catalog.db.table`` → catalog table; else a path.
    Names ending in a known file extension are treated as paths — pass an
    explicit ``fmt`` for a genuinely ambiguous table name."""
    return bool(_TABLE_RE.match(location)) and not _FILE_EXT_RE.search(location)


def read_transcripts(spark: SparkSession, location: str, fmt: str = "auto") -> DataFrame:
    """Read the transcript corpus from an Iceberg table or a parquet path."""
    if fmt == "auto":
        fmt = "iceberg" if is_table_ref(location) else "parquet"
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def stream_transcripts(
    spark: SparkSession, location: str, fmt: str = "auto", max_files: int = 64
) -> DataFrame:
    """Streaming read: Iceberg incremental read, or a file-source stream of
    at most ``max_files`` parquet files per micro-batch."""
    if fmt == "auto":
        fmt = "iceberg" if is_table_ref(location) else "parquet"
    if fmt == "iceberg":
        return spark.readStream.format("iceberg").load(location)
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(location)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed table write (``bucketBy`` + optional ``sortBy``): two
    tables bucketed identically on the join/aggregation key co-locate —
    the join runs with NO shuffle exchange (and no sort, when sortBy
    matches). At 100 TB this is the difference between re-shuffling the
    corpus per join and reading pre-placed buckets; Iceberg's bucket
    partition transform plays the same role on a lakehouse.

    ``path`` makes it an external table (data at that location)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def write_table(df: DataFrame, location: str, mode: str = "overwrite", fmt: str = "auto",
                partition_by: list[str] | None = None) -> None:
    """Write to an Iceberg table or a parquet directory."""
    if fmt == "auto":
        fmt = "iceberg" if is_table_ref(location) else "parquet"
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "iceberg":
        w.format("iceberg").saveAsTable(location)
    else:
        w.parquet(location)
