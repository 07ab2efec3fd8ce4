#!/usr/bin/env python
"""Standalone flow-stream steady-state throughput (the bench.py
streaming block, isolated for A/B work). Usage:

  python tools/flow_stream_bench.py [sf_dir]

Prints one JSON line with steady-state obs/s (bench.py methodology:
rows/s over the batches after the first, triggerExecution time only).
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.session import get_spark
    from kubenetmon_spark.streaming import read_observations, start_flow_stream

    spark = get_spark("flow_stream_bench")
    spark.sparkContext.setLogLevel("ERROR")

    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    obs = obs.persist()
    n_obs = obs.count()

    stmp = tempfile.mkdtemp(prefix="fsb_")
    obs.repartition(8).write.mode("overwrite").parquet(f"{stmp}/obs")
    q = start_flow_stream(
        read_observations(spark, f"{stmp}/obs", max_files_per_trigger=1),
        f"{stmp}/flows",
        f"{stmp}/ckpt",
        pods,
        nodes,
        prefixes,
        DEMO_CFG,
        trigger={"availableNow": True},
    )
    q.awaitTermination(900)
    progress = [
        p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0
    ]
    tail = progress[1:] if len(progress) > 1 else progress
    rows = sum(p["numInputRows"] for p in tail)
    ms = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in tail)
    per_batch = [
        (p["numInputRows"], p.get("durationMs", {}).get("triggerExecution"))
        for p in progress
    ]
    print(
        json.dumps(
            {
                "flow_obs_per_sec": round(rows / (ms / 1000.0)) if ms else None,
                "batches": len(progress),
                "n_obs": n_obs,
                "per_batch": per_batch,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
