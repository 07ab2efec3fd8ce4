"""Generic landing-zone ingestion: JSONL / CSV with dead-letter capture.

The reference's ingest boundary is protobuf-over-gRPC with a fixed
compiled schema (reference pkg/grpc/flow_handler.proto:24-68); malformed
input cannot exist past the protobuf decoder, and rows the labeler
rejects are counted and dropped (reference cmd/server/server.go:100-113).
A Spark-native engine ingests files/streams in text formats too, so the
equivalent contract is:

- **explicit schema always** (the reference never infers — SURVEY §1.2);
- **malformed records are captured, not dropped silently and never
  poison the batch**: PERMISSIVE parsing routes any unparseable line to
  a dead-letter DataFrame with the raw text preserved, mirroring the
  reference's reject-reason observability (our labeler's
  ``split_rejected`` pattern at the parse layer).

Both readers work identically under ``readStream`` (same options), so
the streaming job can reuse them.

Known Spark constraint: a query may not reference ONLY the corrupt-record
column (SPARK-21610) — the split below selects it alongside a parsed
column and materializes via cache, the documented-safe pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.names:
        raise ValueError(f"schema must not already contain {CORRUPT_COL}")
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def _split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return good, bad


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON with an explicit schema.

    Returns ``(good, dead_letter)``: rows that parsed cleanly, and a
    one-column ``raw`` DataFrame of the lines that did not (malformed
    JSON or type mismatch against the schema).
    """
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _split(df)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
    null_value: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Read CSV with an explicit schema; same dead-letter contract as
    :func:`read_jsonl`. Wrong column counts and uncastable values land
    in the dead letter with the raw line preserved. Pass
    ``null_value=sources.export.CSV_NULL`` to round-trip exports (the
    ClickHouse ``\\N`` marker)."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("nullValue", null_value)
        .option("enforceSchema", "true")
        .csv(path)
    )
    return _split(df)
