#!/usr/bin/env python
"""Streaming-at-scale study (VERDICT r02 #4): drive the q34-shape flow
stream over a large SF in MULTIPLE micro-batches (``maxFilesPerTrigger``)
instead of one availableNow gulp, record per-batch latency from the
streaming-query progress feed, and check every batch against the
ingest-to-queryable target (< 60 s, BASELINE.md): the reference's workers
flush batches every ~30 s and rows must be queryable in ClickHouse within
the next merge cycle, so a micro-batch that takes longer than its
accumulation interval means the stream falls behind forever.

Usage: python tools/stream_scale.py [sf_dir] [n_files] [files_per_trigger]
                                    [--windowed]
Defaults: .scale/sf1, 12 input files, 2 files per trigger -> 6 batches.

Prints one JSON line: per-batch rows + trigger latency, the max batch
latency vs target, and the exactness check (streamed+compacted table sums
== one-shot batch pipeline sums over the same observations).

``--windowed`` drives the OTHER streaming mode — the watermarked eager
path (``streaming_network_flows``: tumbling 1-min window aggregation,
append-mode sink, each window emitted once, final). A sentinel
observation 10 min past max event time (rejected by the labeler, so it
contributes no rows) closes the last real windows so the append sink
emits everything and the exactness check is apples-to-apples.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    windowed = "--windowed" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else str(
        Path(__file__).resolve().parent.parent / ".scale/sf1"
    )
    n_files = int(args[1]) if len(args) > 1 else 12
    fpt = int(args[2]) if len(args) > 2 else 2

    from pyspark.sql import functions as F

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
    from kubenetmon_spark.operators.label import label_flows, split_rejected
    from kubenetmon_spark.operators.lpm import disjoint_prefixes
    from kubenetmon_spark.session import get_spark
    from kubenetmon_spark.sink import compact, read_flows
    from kubenetmon_spark.streaming import read_observations, start_flow_stream

    spark = get_spark("stream_scale")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="stream_scale_")
    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    if windowed:
        # the watermarked path assumes roughly event-time-ordered
        # arrival (true of any live stream; a watermark exists to bound
        # exactly how out-of-order). Replaying a month of history from
        # files in RANDOM order makes almost every row "late" and the
        # engine correctly drops it — so simulate a live feed: each
        # file a contiguous time range, replayed oldest-first (the file
        # source consumes in path order).
        obs.repartitionByRange(n_files, "ts").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/obs")
        # the file source orders by MODIFICATION TIME, and parallel
        # write tasks finish in random order — pin mtimes so replay
        # order == range order (part-00000 = earliest range first)
        for i, p in enumerate(sorted(Path(f"{tmp}/obs").glob("part-*"))):
            os.utime(p, (1_000_000 + i, 1_000_000 + i))
    else:
        obs.repartition(n_files).write.mode("overwrite").parquet(
            f"{tmp}/obs"
        )
    n_obs = spark.read.parquet(f"{tmp}/obs").count()
    if windowed:
        # sentinel: advances the watermark past every real window so the
        # append sink emits them all; node_name matches nothing, so the
        # labeler rejects it and it contributes no output rows
        max_ts = obs.agg(F.max("ts")).collect()[0][0]
        # proto=0 + zeroed counters: the TCP/UDP-only and zero-counter
        # filters each drop it deterministically, so it advances the
        # watermark without ever contributing a flow row
        sentinel = obs.limit(1).select(
            F.lit("zz-watermark-sentinel").alias("node_name"),
            (F.lit(max_ts) + F.expr("INTERVAL 10 MINUTES")).alias("ts"),
            *[
                (
                    F.lit(0).cast("int")
                    if c == "proto"
                    else F.lit(0).cast("long")
                    if c.endswith(("_packets", "_bytes"))
                    else F.col(c)
                ).alias(c)
                for c in obs.columns
                if c not in ("node_name", "ts")
            ],
        ).select(*obs.columns)
        # the file source consumes in path order: the sentinel must be
        # the LAST file read (a 'part-...' name from a plain append can
        # lexicographically sort before the data files, putting the
        # future timestamp in batch 0 and making everything after it
        # late) — write it aside and move it to a path sorting after
        # every 'part-*'
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/sentinel"
        )
        part = next(Path(f"{tmp}/sentinel").glob("part-*.parquet"))
        dst = f"{tmp}/obs/zzz-watermark-sentinel.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (2_000_000, 2_000_000))  # strictly last

    t0 = time.perf_counter()
    if windowed:
        from kubenetmon_spark.streaming import (
            start_windowed_flow_stream,
            streaming_network_flows,
        )

        flows = streaming_network_flows(
            read_observations(spark, f"{tmp}/obs", max_files_per_trigger=fpt),
            pods,
            nodes,
            prefixes,
            DEMO_CFG,
            watermark="5 minutes",
        )
        q = start_windowed_flow_stream(
            flows,
            f"{tmp}/flows",
            f"{tmp}/ckpt",
            trigger={"availableNow": True},
        )
    else:
        q = start_flow_stream(
            read_observations(spark, f"{tmp}/obs", max_files_per_trigger=fpt),
            f"{tmp}/flows",
            f"{tmp}/ckpt",
            pods,
            nodes,
            prefixes,
            DEMO_CFG,
            trigger={"availableNow": True},
        )
    q.awaitTermination(3600)
    stream_wall = round(time.perf_counter() - t0, 1)

    batches = [
        {
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "trigger_s": round(p["durationMs"]["triggerExecution"] / 1000, 2),
        }
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    if windowed:
        # each window was emitted once, final — nothing to compact; and
        # the file-stream sink's _spark_metadata log would be
        # invalidated by an overwrite rewrite anyway
        compact_s = None
    else:
        t0 = time.perf_counter()
        compact(spark, f"{tmp}/flows")
        compact_s = round(time.perf_counter() - t0, 1)

    # Exactness: the streamed-and-compacted table must carry the same
    # class/direction sums as the one-shot batch pipeline over the same
    # observations (arbitrary batch boundaries never change the answer).
    streamed = {
        (r.connectionClass, r.direction): (r.bytes, r.packets)
        for r in read_flows(spark, f"{tmp}/flows")
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("bytes"), F.sum("packets").alias("packets"))
        .collect()
    }
    dim = disjoint_prefixes(prefixes)
    accepted, _ = split_rejected(
        label_flows(obs, pods, nodes, dim, DEMO_CFG)
    )
    batch_ans = {
        (r.connectionClass, r.direction): (r.bytes, r.packets)
        for r in summing_aggregate(to_flow_rows(accepted))
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("bytes"), F.sum("packets").alias("packets"))
        .collect()
    }

    if streamed != batch_ans:
        for k in sorted(set(streamed) | set(batch_ans)):
            if streamed.get(k) != batch_ans.get(k):
                print(
                    f"# MISMATCH {k}: streamed={streamed.get(k)} "
                    f"batch={batch_ans.get(k)}",
                    file=sys.stderr,
                )

    max_batch_s = max((b["trigger_s"] for b in batches), default=0.0)
    print(
        json.dumps(
            {
                "mode": "windowed" if windowed else "foreachBatch",
                "sf_dir": sf_dir,
                "n_obs": n_obs,
                "n_files": n_files,
                "files_per_trigger": fpt,
                "n_batches": len(batches),
                "batches": batches,
                "stream_wall_s": stream_wall,
                "compact_s": compact_s,
                "max_batch_trigger_s": max_batch_s,
                "target_s": 60,
                "within_target": max_batch_s < 60,
                "exact_match": streamed == batch_ans,
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0 if (max_batch_s < 60 and streamed == batch_ans) else 1


if __name__ == "__main__":
    raise SystemExit(main())
