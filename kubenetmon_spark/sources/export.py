"""Export surface: the ClickHouse ``FORMAT`` / ``INTO OUTFILE`` analogue.

ClickHouse queries end with ``FORMAT JSONEachRow`` / ``FORMAT CSV`` (and
``INTO OUTFILE`` for file targets); Spark's equivalent is a formatted
write. These wrappers pin the details a migrating user would otherwise
rediscover the hard way:

- **JSONL** (JSONEachRow): one JSON object per line; timestamps in UTC
  ISO-8601 (the session is pinned UTC); maps/arrays/structs nest
  natively.
- **CSV**: header row (ClickHouse ``CSVWithNames``), explicit null
  marker ``\\N`` (ClickHouse's CSV null), quoting only when needed.
- **Sharding**: exports are directories of part files — the distributed
  form. ``single_file=True`` coalesces to one part for tool handoff
  (driver-side bottleneck: document-scale only, never 100 TB).
- **Round-trip**: ``sources/ingest.py`` readers with the same schema
  read an export back loss-free (tested), so export→ingest is a valid
  backup/restore path.

Compression: pass ``codec='gzip'|'zstd'`` — parquet stays the at-rest
format (sink.py); these are interchange formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CSV_NULL = r"\N"


def export_jsonl(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    codec: str | None = None,
) -> None:
    """Write ``df`` as JSON-lines (ClickHouse JSONEachRow)."""
    out = df.coalesce(1) if single_file else df
    w = out.write.mode("overwrite")
    if codec:
        w = w.option("compression", codec)
    w.json(path)


def export_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    codec: str | None = None,
    header: bool = True,
) -> None:
    """Write ``df`` as CSV (ClickHouse CSVWithNames when ``header``).

    Nested columns (arrays/maps/structs) are not representable in CSV —
    same restriction ClickHouse applies — so callers must project them
    (e.g. ``to_json``) first; Spark raises otherwise.
    """
    out = df.coalesce(1) if single_file else df
    w = (
        out.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("nullValue", CSV_NULL)
        # empty strings quoted ("") so the reader can tell them from null
        # (an unquoted empty field reads back as null)
        .option("emptyValue", '""')
    )
    if codec:
        w = w.option("compression", codec)
    w.csv(path)


def export_orc(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    codec: str = "zstd",
) -> None:
    """Write ``df`` as ORC (ClickHouse ``FORMAT ORC``) — the columnar
    interchange format besides parquet; nested types round-trip
    natively, zstd by default like the at-rest parquet."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("compression", codec).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """Read an ORC export (schema carried by the file, like parquet)."""
    return spark.read.orc(path)
