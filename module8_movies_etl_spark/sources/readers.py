"""Readers — the engine's scan operators (SURVEY.md §2.1).

Reference surface being re-expressed:

- S1  whole-file ``json.load`` of ragged movie records
  (reference ``challenge.py:44-45``) → ``spark.read.json`` with
  multiLine + union-of-keys schema inference, fully distributed.
- S2  ``pd.read_csv(..., low_memory=False)`` (``challenge.py:47-48``)
  → ``spark.read.csv``; explicit schema preferred in production, header
  + inference as the exploratory path.
- S3  chunked CSV re-read (``challenge.py:320``) → unnecessary: Spark
  splits any source into partitions; a single lazy scan replaces the
  hand-rolled 1M-row loop.

Parquet is the engine's canonical format: columnar, predicate/column
pushdown, row-group pruning — at 100 TB the scan is the dominant cost
and parquet is the only format here that prunes it.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Canonical scan. Columnar + pushdown; partitioned dirs pruned."""
    return spark.read.parquet(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Scan a dataset whose files were written under DIFFERENT
    (compatible) schemas — schema evolution on read. ``mergeSchema``
    unions the per-file schemas (missing columns read as NULL); it
    costs a footer read per file at planning, which is why it is NOT
    the default scan: a 100 TB table with a known schema should pay
    one catalog lookup, not a million footer merges."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    parquet footer on the driver instead of by an inference job.

    Like Spark's inference, it reads ONE data file: ``path`` itself, or
    the first part file (by name) of a flat directory, skipping names
    that start with ``_`` or ``.`` (markers, summaries, checksums). A
    footer written by Spark carries Spark's own schema as JSON, which
    inference prefers; any other footer maps from its Arrow schema,
    with an unzoned timestamp read as TIMESTAMP_NTZ exactly when the
    session's ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on.
    Two physical types map as Spark maps them, not as Arrow does: an
    unsigned integer widens to the next signed type (UINT64 to
    DECIMAL(20,0)), and an INT96 timestamp is always TIMESTAMP. A
    missing path, or a directory with no data file, raises
    ``FileNotFoundError``."""
    f = path
    if os.path.isdir(path):
        parts = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        if not parts:
            raise FileNotFoundError(f"no parquet data file in {path}")
        f = os.path.join(path, parts[0])
    footer = pq.ParquetFile(f)
    schema = footer.schema_arrow
    meta = schema.metadata or {}
    spark_json = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json))
    leaves = (footer.schema.column(i).physical_type for i in range(len(footer.schema)))
    schema = pa.schema(
        [fld.with_type(_as_spark_reads(fld.type, leaves)) for fld in schema]
    )
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(schema, prefer_timestamp_ntz=ntz.lower() == "true")


_UNSIGNED_AS_SPARK = {
    pa.uint8(): pa.int16(),
    pa.uint16(): pa.int32(),
    pa.uint32(): pa.int64(),
    pa.uint64(): pa.decimal128(20, 0),
}


def _as_spark_reads(t: pa.DataType, leaves: Iterator[str]) -> pa.DataType:
    """Arrow type ``t`` with each leaf retyped as Spark reads its
    parquet column. ``leaves`` yields the physical types of the
    footer's leaf columns in order; Arrow's leaves come depth-first in
    that same order."""
    if pa.types.is_struct(t):
        return pa.struct([fld.with_type(_as_spark_reads(fld.type, leaves)) for fld in t])
    if pa.types.is_map(t):
        key = t.key_field.with_type(_as_spark_reads(t.key_type, leaves))
        item = t.item_field.with_type(_as_spark_reads(t.item_type, leaves))
        return pa.map_(key, item)
    if isinstance(t, (pa.ListType, pa.LargeListType, pa.FixedSizeListType)):
        return pa.list_(t.value_field.with_type(_as_spark_reads(t.value_type, leaves)))
    if next(leaves) == "INT96":
        return pa.timestamp("ns", tz="UTC")
    return _UNSIGNED_AS_SPARK.get(t, t)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic benchmark table from a scale-factor dir.

    The schema comes from the table's parquet footer (``_footer_schema``)
    and is pinned on the read, so building the DataFrame starts no Spark
    job — at these table sizes the inference job cost more than most
    scans. It reads the session's conf and writes none. A missing table
    raises ``FileNotFoundError``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several benchmark tables at once (default: all of them)."""
    use = names or TPCH_TABLES
    return {n: read_table(spark, sf_dir, n) for n in use}


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multi_line: bool = True,
) -> DataFrame:
    """S1: ragged JSON → DataFrame with union-of-keys schema.

    The reference loads the whole file on the driver
    (``challenge.py:44-45``); Spark's JSON source infers the same
    union schema but scans distributed. Pass ``schema`` to skip the
    inference pass on big inputs (inference reads the data twice).
    """
    reader = spark.read.option("multiLine", "true" if multi_line else "false")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool | None = None,
) -> DataFrame:
    """S2: CSV scan.

    ``low_memory=False`` in the reference (``challenge.py:47``) exists
    because pandas infers dtypes chunk-by-chunk; Spark's two-pass
    inference has no such failure mode, and an explicit schema skips
    the extra pass entirely (the production default here).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema is not False:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same predicate/column pushdown contract as parquet
    (pinned by test_orc_roundtrip_pushdown)."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file scan: the ingest path for multimodal blobs (images,
    audio) sitting as FILES rather than as a column in a table —
    yields (path, modificationTime, length, content) with ``content``
    as the opaque binary column the multimodal stages consume
    (operators.multimodal). Partition parallelism is per-file;
    ``spark.sql.files.maxPartitionBytes`` governs batching of small
    files into tasks."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1-adjacent: XML scan via Spark 4's NATIVE xml source (the
    spark-xml package folded into core) — the third semi-structured
    ingest beside ragged JSON and VARIANT. Schema inference unions
    element structures like the JSON path; pass ``schema`` to skip
    the inference pass on large inputs. Row boundaries come from
    ``rowTag``, so files split cleanly across executors.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
