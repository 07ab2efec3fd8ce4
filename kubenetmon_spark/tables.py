"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

The ``events`` table carries parquet TIMESTAMP(NANOS) which Spark's
reader refuses; with ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
session.get_spark) it arrives as a long that we convert to a microsecond
timestamp here. All other tables load as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side row list as a ONE-partition DataFrame that is
    scanned in the JVM.

    ``rows`` are tuples in ``schema`` order (a DDL string or a
    StructType). They reach ``createDataFrame`` as a ``pyarrow.Table``
    typed by the Arrow form of the schema, so no scan of the frame
    starts a Python worker (a ``parallelize``d row list started one per
    job: 2.4 s cold vs 0.95 s from Arrow for the job reading a
    driver-solved connected-components result, 4 vCPUs). Not through
    pandas: it turns an int64 column holding a NULL into float64.

    One partition = one task per scan. Driver-side lists are bounded by
    construction: dims, and the results of driver solves, whose inputs
    :func:`driver_table` holds under ``DRIVER_SOLVE_CELLS``. One
    partition is the right layout for either at any scale."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)

    def column(values, field, arrow_type):
        if isinstance(field.dataType, TimestampType):
            # a naive datetime is process-local time, as on the row path
            micros = [field.dataType.toInternal(v) for v in values]
            return pa.array(micros, pa.int64()).cast(arrow_type)
        return pa.array(values, type=arrow_type)

    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [column(c, f, a.type) for c, f, a in zip(cols, schema.fields, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema).coalesce(1)



#: The one ceiling on what an operator may move to the driver to solve
#: an iterative problem there: 2^22 cells, about 32 MiB of 8-byte
#: values. Past it the operator runs its distributed loop.
DRIVER_SOLVE_CELLS = 1 << 22


def driver_table(df: DataFrame, row_cells: int):
    """``df`` as one ``pyarrow.Table`` when it is small enough to solve
    on the driver, else ``None`` — the inverse of :func:`local_df`.

    ``row_cells`` is the caller's estimate of 8-byte values per row;
    the frame may hold at most ``DRIVER_SOLVE_CELLS // row_cells`` rows.
    The size probe is a ``limit(cap + 1).count()`` job, so an
    oversized frame moves no rows; a small one moves once, as Arrow
    (no pickled Rows). ``df`` runs twice when small (probe, transfer):
    pass a checkpointed frame when its plan is expensive."""
    cap = DRIVER_SOLVE_CELLS // row_cells
    if df.limit(cap + 1).count() > cap:
        return None
    return df.toArrow()

def fanout(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism FLOOR for compute-heavy map stages —
    the dual of :func:`local_df`.

    A small parquet table arrives as one split (a parquet row group is
    unsplittable), so every downstream map stage — Arrow tokenize
    passes, per-gram md5, BLAS batches, O(n^2) bounded self-joins —
    runs on ONE core until the first exchange, no matter how many are
    idle. AQE cannot help: it sizes partitions by BYTES, and these
    stages are CPU-bound at tiny byte sizes (a 0.6 MB document table
    carries seconds of single-core hashing).

    Repartition to ``defaultParallelism`` ONLY when the input has fewer
    partitions: at production scale inputs arrive with >= core-count
    splits and this is a no-op (no exchange added to the plan), so the
    floor is scale-adaptive rather than a local-mode constant. Apply it
    to corpus-scale inputs of expensive operators, NOT to tiny frames
    (broadcast probes, dims — those want :func:`local_df`'s one slice).

    Results are unaffected by layout: house operators are
    partition-order-independent by design (integer-exact sums,
    min/count aggregates, per-row hashing).

    The partition probe (``df.rdd``) runs ONLY on scan-level inputs
    (scans plus narrow projections/filters/generates): with AQE,
    converting a frame with upstream exchanges to an RDD finalizes and
    can eagerly EXECUTE those query stages just to read a partition
    count, and that work is not reused by the returned plan (ADVICE
    r07). A post-exchange frame already carries >= shuffle-partition
    parallelism, so the floor is a no-op for it anyway — return it
    unchanged, probe-free.
    """
    if _has_exchange(df):
        return df
    target = parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: Logical nodes that put an exchange (or a Python stage boundary)
#: between the scan and the frame — .rdd on such a frame can eagerly
#: run those stages under AQE just to read a partition count.
_EXCHANGE_NODES = frozenset(
    {
        "Aggregate",
        "Join",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Window",
        "Sort",
        "Deduplicate",
        "Intersect",
        "Except",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "CoGroup",
    }
)


def _has_exchange(df: DataFrame) -> bool:
    """True when the ANALYZED logical plan (no optimization, no
    execution — analysis already happened at construction) contains a
    shuffle-introducing node. String-walks the plan tree's node names
    (first token per line, tree prefixes stripped)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("(", 1)[0]
        if node == "Repartition":
            # "Repartition <n>, <shuffle>" covers BOTH repartition(n)
            # (shuffle=true — an exchange) and coalesce(n)
            # (shuffle=false — narrow, probe-safe; a coalesced scan is
            # exactly the under-parallel input the floor exists for).
            if line.rstrip().endswith("true"):
                return True
            continue
        if node in _EXCHANGE_NODES:
            return True
    return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # nanos -> micros; truncation (floor) matches DuckDB's
            # second/minute truncation downstream (all values positive).
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif dt == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
            # NTZ; with the session pinned to UTC the LTZ cast is
            # value-preserving, and downstream epoch casts need LTZ.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: (session id, sf_dir) pairs whose views are current — re-registering
#: the same directory re-reads ten parquet footers for nothing, and the
#: gate calls this before every spark.sql query.
_VIEWS_REGISTERED: set[tuple[int, str]] = set()


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view for spark.sql
    use. Memoized per (session, sf_dir): repeated calls with the same
    directory are free; a different sf_dir re-registers (and takes
    over the view names, latest wins)."""
    tables = load_tables(spark, sf_dir)
    if (id(spark), sf_dir) in _VIEWS_REGISTERED:
        return tables
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    _VIEWS_REGISTERED.add((id(spark), sf_dir))
    # a different directory's registration is now stale for this session
    for k in [k for k in _VIEWS_REGISTERED if k[0] == id(spark) and k[1] != sf_dir]:
        _VIEWS_REGISTERED.discard(k)
    return tables
