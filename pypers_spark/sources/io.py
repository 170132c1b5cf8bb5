"""Readers and sinks beyond the parquet registry (SURVEY.md §2.E).

All readers return lazy scans; all sinks are plan terminators. Scale
discipline: CSV/JSON readers take explicit schemas (runtime inference
is a full extra pass over the data — acceptable at test scale, a
100 TB mistake); the partitioned sink writes ``partitionBy`` layouts so
downstream reads get partition pruning.
"""

from __future__ import annotations

import os
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Optional[StructType] = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan. Pass ``schema`` in production; inference needs a full
    extra read of every file."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.options(**options).csv(path)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.option("header", header).mode(mode).csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: Optional[StructType] = None,
    multiline: bool = False,
    **options,
) -> DataFrame:
    """NDJSON (or multiline JSON) scan; explicit schema preferred."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (absolute path, conf values) -> (listing, inferred schema). One entry
# per path and confs: a rewritten table replaces its entry.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _listing(path: str) -> Optional[tuple]:
    """(relative name, size, mtime) of every file under a local ``path``;
    None when the path is not on the local file system (a URI, a glob,
    a missing path)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        out = []
        for root, _, files in os.walk(path):
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan; every parquet table the package opens goes
    through here.

    Schema inference launches a Spark job (a footer read) on every
    ``spark.read.parquet``. The inferred schema is remembered per
    process, keyed by the path, its file listing (name, size, mtime)
    and the parquet-reading confs, so reopening an unchanged table is
    ``spark.read.schema(s).parquet(path)`` and launches no job. A
    rewritten table, or a changed conf such as
    ``spark.sql.legacy.parquet.nanosAsLong``, is inferred afresh. A
    path that cannot be listed locally is always inferred.
    """
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == listing:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (listing, df.schema)
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning properties as
    parquet (both columnar with embedded statistics)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Iterable[str]] = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Iterable[str]] = None,
    sort_within_partitions: Optional[Iterable[str]] = None,
    max_records_per_file: Optional[int] = None,
) -> None:
    """Partitioned, optionally sorted parquet sink.

    ``partition_by`` gives readers partition pruning on those columns;
    ``sort_within_partitions`` clusters rows so min/max page stats make
    row-group skipping effective; ``max_records_per_file`` caps file
    size for balanced downstream splits.
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def read_text(
    spark: SparkSession,
    path: str,
    whole_text: bool = False,
    line_sep: Optional[str] = None,
) -> DataFrame:
    """Raw-text scan -> one ``value`` string column.

    ``whole_text=True`` reads each file as a single row (document-per-
    file corpora); otherwise one row per line. Line mode is splittable
    (a 100 TB corpus fans out by byte ranges); whole-text pins a file to
    a task, so keep files << executor memory at scale.
    """
    reader = spark.read.option("wholetext", whole_text)
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-string-column sink (one line per row)."""
    df.write.mode(mode).text(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: Optional[str] = None,
) -> DataFrame:
    """Binary-file scan for multimodal ingestion: one row per file with
    ``path``/``modificationTime``/``length``/``content`` (binary) —
    the raw-bytes side of the §2.F multimodal column model; pair with
    ``multimodal.with_media_meta`` to attach typed metadata.

    Not splittable (a file is one row) — at 100 TB the ingest pattern
    is many moderate files, then an immediate repartition + parquet
    rewrite so downstream scans are columnar and splittable.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
