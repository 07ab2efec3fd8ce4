"""Streaming SCD2 dimension maintenance — the informer loop as a stream.

The reference keeps dimensions fresh by re-listing on a timer (k8s
informer caches, reference pkg/watcher/watcher.go:52-120; daily cloud
range refresh, reference pkg/labeler/remote.go:99-126) and always joins
facts against "now", so history is unrecoverable. Here each micro-batch
of snapshot rows folds into a persistent SCD2 table via
``operators/scd.py::scd2_apply_batch``, preserving full validity
history for replay labeling (``as_of_dimension``).

Storage layout (both written with deterministic per-batch directories,
so an at-least-once foreachBatch retry overwrites its own output
instead of duplicating — same contract as streaming/curation.py):

    <scd2_path>/closed/_bid=<n>/   intervals CLOSED by batch n (append-only)
    <scd2_path>/open/_bid=<n>/     the FULL open set after batch n

The open-set write is batch n's commit point: ``closed/_bid=n`` is
written first, and a reader keeps only closed dirs up to the newest
open dir's batch, so a read between the two writes (or after a crash
between them) sees batch n-1 whole, never half of batch n.

Per-batch cost: the closed history is never re-read or re-written —
O(batch + open set) work per refresh, where the open set is the live
key cardinality (a dimension, small by construction), not the
accumulated history. Reading the table = the closed dirs up to the
newest open dir's batch + that open dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from kubenetmon_spark.streaming.state import read_state_or_none


def _latest_open(
    spark: SparkSession, scd2_path: str, exclude_bid: int | None = None
) -> tuple[DataFrame, int] | None:
    """The open set as of the newest completed batch, with that batch's
    id (optionally excluding a batch id — a replayed batch must not see
    its own partial writes)."""
    df = read_state_or_none(
        spark, f"{scd2_path}/open", base_path=f"{scd2_path}/open"
    )
    if df is None:
        return None
    if exclude_bid is not None:
        df = df.filter(F.col("_bid") != exclude_bid)
    bids = [r._bid for r in df.select("_bid").distinct().collect()]
    if not bids:
        return None
    bid = max(bids)
    return df.filter(F.col("_bid") == bid).drop("_bid"), bid


def start_scd2_stream(
    snapshots_stream: DataFrame,
    scd2_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "snapshot_ts",
    trigger: dict | None = None,
) -> StreamingQuery:
    """foreachBatch wiring of ``scd2_apply_batch`` over a snapshot
    stream. Batches must arrive in event-time order per key (the
    operator's append-only precondition) — true for an informer-style
    re-list feed, and arranged in tests by pinning file mtimes."""
    from kubenetmon_spark.operators.scd import scd2_apply_batch
    from kubenetmon_spark.streaming.job import _apply_trigger

    cols = [*key_cols, *attr_cols, "valid_from", "valid_to"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_open(spark, scd2_path, exclude_bid=batch_id)
        if latest is not None:
            prev_open = latest[0]
        else:
            prev_open = spark.createDataFrame(
                [], batch_df.select(*key_cols, *attr_cols).schema
            ).select(
                "*",
                F.lit(None).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
            )
        # prev_open holds no closed rows, so apply returns exactly the
        # newly-closed intervals plus the new open set
        result = scd2_apply_batch(
            prev_open.select(*cols),
            batch_df.select(*key_cols, ts_col, *attr_cols),
            key_cols,
            attr_cols,
            ts_col,
        )
        from kubenetmon_spark.operators.scd import FAR_FUTURE

        far = F.lit(FAR_FUTURE).cast("timestamp")
        result.filter(F.col("valid_to") != far).select(*cols).write.mode(
            "overwrite"
        ).parquet(f"{scd2_path}/closed/_bid={batch_id}")
        result.filter(F.col("valid_to") == far).select(*cols).write.mode(
            "overwrite"
        ).parquet(f"{scd2_path}/open/_bid={batch_id}")

    writer = snapshots_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return _apply_trigger(writer, trigger).start()


def read_scd2(spark: SparkSession, scd2_path: str) -> DataFrame:
    """The maintained SCD2 table as of its newest committed batch: the
    newest open set + every interval closed up to that batch. Identical
    to ``scd2_from_snapshots`` over the snapshot history of the batches
    committed so far (asserted in tests/test_streaming_dims.py)."""
    latest = _latest_open(spark, scd2_path)
    if latest is None:
        raise FileNotFoundError(f"no open set under {scd2_path}/open")
    open_df, bid = latest
    closed = read_state_or_none(
        spark, f"{scd2_path}/closed", base_path=f"{scd2_path}/closed"
    )
    if closed is None:  # nothing ever closed yet
        return open_df
    return (
        closed.filter(F.col("_bid") <= bid).drop("_bid").unionByName(open_df)
    )
