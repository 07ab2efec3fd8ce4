"""Structured Streaming ingest: the Spark-native form of the reference's
agent -> gRPC -> labeler -> batched-insert pipeline (SURVEY.md §3.1-3.2).

Two complementary paths, mirroring the two halves of the reference's
SummingMergeTree semantics (reference test/network_flows_0.sql:39-44):

1. ``start_flow_stream`` — **merge-time path** (reference-faithful). A
   ``foreachBatch`` sink runs the full batch labeler per micro-batch,
   pre-sums within the batch, and appends to the partitioned fact table.
   Rows for the same dimension key arriving in different micro-batches
   coexist until ``sink.compact`` folds them — exactly ClickHouse's
   asynchronous background merge. There is **no watermark**: arbitrarily
   late data still lands and still gets folded, which is precisely the
   reference's behavior (reference pkg/inserter/worker.go:134-147 writes
   whatever timestamp arrives; SURVEY.md §2.9).

   Delivery: the file-source checkpoint makes input exactly-once, and
   ``sink.commit_flow_batch`` commits each batch once: one staged write
   under the table's hidden ``_staging`` dir, published by rename, then
   a marker under ``<checkpoint>/_committed_batches`` (the analogue of
   the reference's per-batch ``insert_deduplication_token``, reference
   pkg/inserter/worker.go:248).

2. ``start_windowed_flow_stream`` — **eager path** (stronger-than-
   reference). The whole labeler runs inside the streaming DSL (possible
   because the disjoint-interval LPM join is stateless, operators/lpm.py),
   followed by a watermarked 1-minute tumbling-window aggregation in
   append mode: each (minute, dims) bucket is emitted exactly once, final,
   after the watermark passes. Late rows beyond the watermark are dropped
   — the explicit late-data policy SURVEY.md §2.9 calls for. Use the
   merge-time path when arbitrarily-late data must count.

Batching knobs map 1:1 to the reference's: ``maxFilesPerTrigger`` is the
batch-size bound (reference batchSize, values.yaml:63), the trigger
interval is the flush timeout (batchSendTimeout, values.yaml:64), and
Spark's executor parallelism replaces the 20 inserter workers
(reference pkg/inserter/inserter.go:91).
"""

from __future__ import annotations

from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kubenetmon_spark import fs as _fsm
from kubenetmon_spark.config import RuntimeConfig
from kubenetmon_spark.functions.flags import canonical_flags_json
from kubenetmon_spark.operators.label import label_flows, split_rejected
from kubenetmon_spark.operators.lpm import disjoint_prefixes
from kubenetmon_spark.schema import DIM_COLS, OBSERVATION_SCHEMA
from kubenetmon_spark.sink import (
    append_by_date,
    checkpoint_stream_id,
    commit_flow_batch,
)


def read_observations(
    spark: SparkSession,
    input_path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source observation stream with the fixed schema (no inference —
    SURVEY.md §1.2). ``max_files_per_trigger`` bounds micro-batch size the
    way ``batchSize`` bounds the reference's insert batches."""
    reader = spark.readStream.schema(OBSERVATION_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return getattr(reader, fmt)(input_path)


def parse_kafka_observations(kafka_df: DataFrame) -> DataFrame:
    """Kafka wire format -> observation rows.

    A Kafka record's ``value`` carries one JSON observation (the Spark
    analogue of the reference's protobuf-over-gRPC boundary,
    reference pkg/grpc/flow_handler.proto:8-13). Malformed payloads parse
    to a null struct and are dropped — the reference likewise skips
    per-observation errors and keeps the stream alive
    (reference cmd/server/server.go:100-113).
    """
    obs = kafka_df.select(
        F.from_json(F.col("value").cast("string"), OBSERVATION_SCHEMA).alias("o")
    )
    # PERMISSIVE from_json yields an all-null struct for malformed payloads;
    # an observation without node_name+ts is unusable either way.
    return obs.filter(
        F.col("o.node_name").isNotNull() & F.col("o.ts").isNotNull()
    ).select("o.*")


def read_observations_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka observation stream (requires the spark-sql-kafka package on
    the cluster; untestable in this environment — the value parsing is
    covered by ``parse_kafka_observations`` tests). ``maxOffsetsPerTrigger``
    is the batch-size bound, like the reference's batchSize."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_observations(reader.load())


def ingest_metrics(query) -> dict[str, Any]:
    """Observability snapshot of a running/finished ingest query — the
    analogue of the reference's per-stream observation count + insert
    metrics (reference cmd/server/server.go:62-76, SURVEY.md §2 A5)."""
    p = query.lastProgress or {}
    return {
        "query_name": p.get("name"),
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "process_rows_per_second": p.get("processedRowsPerSecond"),
        "is_active": query.isActive,
    }


def _apply_trigger(writer, trigger: dict[str, Any] | None):
    return writer.trigger(**trigger) if trigger else writer


def start_flow_stream(
    observations: DataFrame,
    table_path: str,
    checkpoint_path: str,
    pods: DataFrame,
    nodes: DataFrame,
    prefixes: DataFrame,
    cfg: RuntimeConfig,
    dead_letter_path: str | None = None,
    trigger: dict[str, Any] | None = None,
    query_name: str = "network_flows_ingest",
    dim_loader: Any | None = None,
    dim_refresh_batches: int = 0,
) -> StreamingQuery:
    """Merge-time path: full labeler per micro-batch via foreachBatch.

    Each batch is labeled and written once, into a stage, and becomes
    visible by rename (``sink.commit_flow_batch``: stage -> publish ->
    mark): a crash anywhere in its commit, then a restart on the same
    checkpoint, counts it once in the table and in ``dead_letter_path``.

    The stage write is one SQL text per table, rendered once per
    dimension refresh: the labeler, the summing aggregation and the
    file layout (one file per date, sorted on ``(date, key…)``,
    flowsql.dated_write_sql), so each trigger analyses one plan. The
    batches run without adaptive execution: it is switched off on the
    session Spark clones for each run of the query, not on the caller's.

    ``dim_loader`` (optional): a zero-arg callable returning fresh
    ``(pods, nodes, prefixes)`` DataFrames. When set with
    ``dim_refresh_batches = N > 0``, dimensions reload every N batches —
    the reference's daily cloud-range refresh and live k8s informers
    (reference pkg/labeler/remote.go:99-126; pkg/watcher) as a stream
    concern: a pod rescheduled mid-stream labels correctly from the next
    refresh on. Reloading is driver-side metadata work; the rebuilt
    disjoint-interval LPM dimension is re-persisted and the stale one
    released, so micro-batches always broadcast a cached build.
    """
    # Batch markers live next to the checkpoint — URI-safe through the
    # FS adapter, so exactly-once marker replay also holds when the
    # checkpoint root is hdfs://s3a:// (where production checkpoints
    # live; marker creation is an atomic PUT there).
    markers = _fsm.join(checkpoint_path, "_committed_batches")

    # Flatten the prefix dimension to disjoint intervals ONCE per refresh
    # (the reference builds its trie once per daily refresh,
    # reference pkg/labeler/remote.go:98-126); persist so micro-batches
    # broadcast the cached intervals instead of re-running the sweep.
    # The same hoisting applies to the labeler's three derived dim
    # subtrees (pod-ambiguity index, node-IP set, zone lookup): without
    # prepare_label_dims every micro-batch re-ran those aggregations —
    # pure per-trigger fixed cost (measured ~0.3s/batch at sf0.1).
    from kubenetmon_spark.flowsql import (
        collect_lpm_segments,
        dated_write_sql,
        flow_batch_sql,
        flows_agg_sql,
        labeled_sql,
        register_flow_dim_views,
    )
    from kubenetmon_spark.operators.label import (
        prepare_label_dims,
        release_label_dims,
    )

    # The whole per-batch computation is rendered to SQL text HERE —
    # once per dimension refresh — so each trigger re-binds only the
    # batch source (temp view + one spark.sql) instead of re-building
    # ~2,700 py4j plan-construction roundtrips (~0.4 s of driver time
    # per trigger, measured).
    _tag = "".join(c if c.isalnum() else "_" for c in query_name)
    obs_view = f"_flow_obs_{_tag}"
    labeled_view = f"_flow_labeled_{_tag}"

    def _build_sql(prepared, disjoint) -> dict:
        spark = pods.sparkSession
        # A small LPM dimension inlines as a CASE chain (one broadcast
        # build fewer per micro-batch); larger dims keep the join.
        segments = collect_lpm_segments(disjoint)
        pod_view, banded_view = register_flow_dim_views(
            spark, prepared, disjoint, tag=_tag
        )
        args = (cfg, prepared, obs_view, pod_view, banded_view, segments)
        return {
            "flows": dated_write_sql(flow_batch_sql(*args)),
            "labeled": labeled_sql(*args),
            # the dead-letter branch aggregates the PERSISTED labeled
            # frame (the cache manager matches the view's subtree)
            "accepted_flows": dated_write_sql(
                flows_agg_sql(
                    f"(SELECT * FROM {labeled_view} "
                    "WHERE reject_reason IS NULL)"
                )
            ),
        }

    # repartition(1): see prepare_label_dims — the persisted dimension
    # is re-scanned every micro-batch to build its broadcast; a single
    # cached partition makes that a one-task job (<=87k-segment dims
    # are a few MB).
    # The prefix flatten and the pod/node dim prep are independent
    # chains over disjoint inputs — submit them concurrently (guide
    # §2.6 job overlap; the r7 decision rule: concurrency pays exactly
    # when the jobs touch disjoint inputs). ~0.4-0.5 s off every
    # stream start / dimension refresh.
    from concurrent.futures import ThreadPoolExecutor

    def _prep_disjoint(pfx):
        d = disjoint_prefixes(pfx).repartition(1).persist()
        d.count()
        return d

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fd = _pool.submit(_prep_disjoint, prefixes)
        _fp = _pool.submit(prepare_label_dims, pods, nodes)
        disjoint = _fd.result()
        prepared = _fp.result()
    dims = {
        "disjoint": disjoint,
        "prepared": prepared,
        "sql": _build_sql(prepared, disjoint),
        "n": 0,
    }

    def write_stage(
        batch_df: DataFrame, batch_id: int, flow_stage: str, dead_stage=None
    ) -> None:
        if dim_loader is not None and dim_refresh_batches > 0:
            dims["n"] += 1
            if dims["n"] % dim_refresh_batches == 0:
                new_pods, new_nodes, new_prefixes = dim_loader()
                with ThreadPoolExecutor(max_workers=2) as _rp:
                    _fd = _rp.submit(_prep_disjoint, new_prefixes)
                    _fp = _rp.submit(
                        prepare_label_dims, new_pods, new_nodes
                    )
                    fresh = _fd.result()
                    fresh_prepared = _fp.result()
                dims["disjoint"].unpersist()
                release_label_dims(dims["prepared"])
                dims.update(disjoint=fresh, prepared=fresh_prepared)
                dims["sql"] = _build_sql(fresh_prepared, fresh)
        spark = batch_df.sparkSession
        sqltexts = dims["sql"]
        batch_df.createOrReplaceTempView(obs_view)
        # Each stage write is one spark.sql text whose layout (one file
        # per date, sorted on (date, key…)) is in the text: no DataFrame
        # operation follows it, so the plan is analysed once.
        if dead_stage is None:
            # the staged write is the batch's only consumer: the source
            # is scanned once, inside the write job
            append_by_date(spark.sql(sqltexts["flows"]), flow_stage)
            return
        # Persist only when a second consumer (the dead-letter write)
        # exists, so the source scan and the labeler still run once per
        # batch; with one consumer, materializing all 40 labeled
        # columns into the cache is pure per-batch overhead.
        labeled = spark.sql(sqltexts["labeled"]).persist()
        try:
            labeled.createOrReplaceTempView(labeled_view)
            append_by_date(spark.sql(sqltexts["accepted_flows"]), flow_stage)
            spark.sql(
                f"SELECT reject_reason, count(1) AS n, {int(batch_id)} AS batch_id"
                f" FROM {labeled_view} WHERE reject_reason IS NOT NULL"
                " GROUP BY reject_reason"
            ).write.parquet(dead_stage)
        finally:
            labeled.unpersist()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # This is the clone of the caller's session that Spark makes for
        # each run of the query (see register_flow_dim_views), so the
        # caller keeps adaptive execution. A micro-batch's plan is small
        # and its shapes repeat: re-optimizing it after every stage, one
        # job per exchange, costs more than it can win back.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if "stream" not in dims:
            # Spark's own id for this query, kept in the checkpoint and
            # stable across restarts: it keys the batch's stage, since
            # two streams can write one table
            dims["stream"] = checkpoint_stream_id(checkpoint_path, spark)
        commit_flow_batch(
            table_path,
            _fsm.join(markers, str(batch_id)),
            dims["stream"],
            batch_id,
            partial(write_stage, batch_df, batch_id),
            dead_letter_path=dead_letter_path,
            spark=spark,
        )

    writer = (
        observations.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(process_batch)
    )
    return _apply_trigger(writer, trigger).start()


def streaming_network_flows(
    observations: DataFrame,
    pods: DataFrame,
    nodes: DataFrame,
    prefixes: DataFrame,
    cfg: RuntimeConfig,
    watermark: str = "10 minutes",
    observe_metrics: bool = False,
) -> DataFrame:
    """Eager path as a pure streaming DataFrame: watermarked labeler ->
    fan-out -> 1-minute tumbling window summing aggregation.

    ``observe_metrics=True`` attaches the labeled/rejected observe()
    split (observability.with_ingest_observation) so every progress
    event carries ``n_labeled``/``n_rejected`` — the counts
    ``observability.reference_counters`` projects onto the reference's
    processed/dropped counter names. It rides the normal execution; no
    extra pass.

    Returns an unstarted streaming DataFrame with the NETWORK_FLOWS
    column set; start it with ``start_windowed_flow_stream`` (or any
    writeStream). The labeler's lookups are all broadcast joins, which
    keeps the plan free of stateful ops before the single window
    aggregation.
    """
    # Flatten once and persist: the static side of a stream-static join is
    # re-evaluated every micro-batch, so caching the interval sweep matters
    # for the life of the query.
    disjoint = disjoint_prefixes(prefixes).persist()
    labeled = label_flows(
        observations.withWatermark("ts", watermark),
        pods,
        nodes,
        disjoint,
        cfg,
    )
    if observe_metrics:
        from kubenetmon_spark.observability import with_ingest_observation

        labeled = with_ingest_observation(labeled)
    accepted, _ = split_rejected(labeled)

    directions = F.array(
        F.struct(
            F.lit("out").alias("direction"),
            F.col("bytes_out").alias("bytes"),
            F.col("packets_out").alias("packets"),
        ),
        F.struct(
            F.lit("in").alias("direction"),
            F.col("bytes_in").alias("bytes"),
            F.col("packets_in").alias("packets"),
        ),
    )
    fan = (
        accepted.withColumn("_d", F.explode(directions))
        .withColumn("direction", F.col("_d.direction"))
        .withColumn("bytes", F.coalesce(F.col("_d.bytes"), F.lit(0)))
        .withColumn("packets", F.coalesce(F.col("_d.packets"), F.lit(0)))
        .drop("_d", "bytes_out", "bytes_in", "packets_out", "packets_in", "flow_type", "reject_reason")
    )
    group_cols = [c for c in DIM_COLS if c not in ("connectionFlags", "date", "intervalStartTime", "intervalSeconds")]
    agg = (
        fan.withColumn("_flags_key", canonical_flags_json("connectionFlags"))
        .groupBy(F.window("ts", "1 minute").alias("_w"), F.col("_flags_key"), *group_cols)
        .agg(
            F.any_value("connectionFlags").alias("connectionFlags"),
            F.sum("bytes").alias("bytes"),
            F.sum("packets").alias("packets"),
        )
    )
    return agg.select(
        F.to_date("_w.start").alias("date"),
        F.col("_w.start").alias("intervalStartTime"),
        F.lit(60).cast("int").alias("intervalSeconds"),
        *DIM_COLS[3:],
        "bytes",
        "packets",
    )


def start_windowed_flow_stream(
    flows: DataFrame,
    table_path: str,
    checkpoint_path: str,
    trigger: dict[str, Any] | None = None,
    query_name: str = "network_flows_windowed",
) -> StreamingQuery:
    """Start the eager path: append-mode partitioned parquet sink. Each
    window is emitted once, final — readers never need to re-aggregate."""
    writer = (
        flows.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .partitionBy("date")
        .format("parquet")
        .option("path", table_path)
    )
    return _apply_trigger(writer, trigger).start()
