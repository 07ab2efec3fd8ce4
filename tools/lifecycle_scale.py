#!/usr/bin/env python
"""Lifecycle jobs at scale (VERDICT r02 #6): time the storage-lifecycle
operators — two-batch append, compact, projection maintenance, z-order
rewrite, rollup-TTL, retention drop — over the sf1 flow table, recording
per-partition parallelism evidence (date-partition counts and files per
partition) alongside wall times.

Usage: python tools/lifecycle_scale.py [sf_dir] [--uri]
(default .scale/sf1). --uri runs the whole lifecycle against file:
URI-form table roots through the Hadoop FS adapter — the object-store
code path — so its cost and correctness are measured at sf1, not only
unit-tested.
Prints one JSON line with a per-job {seconds, ...evidence} map.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import date, timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    args = sys.argv[1:]
    use_uri = "--uri" in args
    args = [a for a in args if a != "--uri"]
    sf_dir = args[0] if args else str(
        Path(__file__).resolve().parent.parent / ".scale/sf1"
    )

    from pyspark.sql import functions as F

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
    from kubenetmon_spark.operators.label import label_flows, split_rejected
    from kubenetmon_spark.operators.lpm import disjoint_prefixes
    from kubenetmon_spark.operators.zorder import zorder_write
    from kubenetmon_spark.session import get_spark
    from kubenetmon_spark.sink import (
        apply_retention,
        apply_rollup_ttl,
        compact,
        write_flows,
        write_projection,
    )

    spark = get_spark("lifecycle_scale")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="lifecycle_scale_")
    root = f"file:{tmp}" if use_uri else tmp
    flows_path = f"{root}/flows"
    out: dict = {"sf_dir": sf_dir, "addressing": "uri" if use_uri else "local"}

    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    dim = disjoint_prefixes(prefixes).persist()
    dim.count()
    accepted, _ = split_rejected(
        label_flows(obs, pods, nodes, dim, DEMO_CFG)
    )
    flows = summing_aggregate(to_flow_rows(accepted)).persist()
    n_flow_rows = flows.count()
    out["n_flow_rows_per_batch"] = n_flow_rows

    def timed(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = {"s": round(time.perf_counter() - t0, 1)}
        return r

    from kubenetmon_spark import fs as _fsm

    def part_evidence():
        fs = _fsm.get_fs(flows_path, spark)
        parts = [
            n
            for n in (
                fs.list_names(flows_path) if fs.is_dir(flows_path) else []
            )
            if n.startswith("date=")
        ]
        files = [
            len(fs.glob_parquet(_fsm.join(flows_path, n))) for n in parts
        ]
        return {
            "n_date_partitions": len(parts),
            "files_per_partition_max": max(files, default=0),
        }

    # two appended batches -> cross-batch rows for compact to fold
    timed("append_batch_1", lambda: write_flows(flows, flows_path))
    timed("append_batch_2", lambda: write_flows(flows, flows_path))
    out["append_batch_2"].update(part_evidence())

    pre_rows = spark.read.parquet(flows_path).count()
    timed("compact", lambda: compact(spark, flows_path))
    post = spark.read.parquet(flows_path)
    post_rows = post.count()
    out["compact"].update(
        {"rows_before": pre_rows, "rows_after": post_rows},
        **part_evidence(),
    )
    assert post_rows == n_flow_rows, "compact must fold the 2 batches to 1"

    timed(
        "projection",
        lambda: write_projection(
            spark, flows_path, f"{root}/proj", ["remoteApp", "remotePod"]
        ),
    )
    out["projection"]["n_date_partitions"] = len(
        [
            n
            for n in _fsm.get_fs(f"{root}/proj", spark).list_names(
                f"{root}/proj"
            )
            if n.startswith("date=")
        ]
    )

    timed(
        "zorder",
        lambda: zorder_write(
            post, f"{root}/z", ["localPort", "remotePort"], n_files=32
        ),
    )
    out["zorder"]["n_files"] = len(
        _fsm.get_fs(f"{root}/z", spark).glob_parquet(f"{root}/z")
    )

    # age half the partitions into daily rollup, then drop the oldest
    dates = sorted(
        n.split("=", 1)[1]
        for n in _fsm.get_fs(flows_path, spark).list_names(flows_path)
        if n.startswith("date=")
    )
    mid = date.fromisoformat(dates[len(dates) // 2])
    fake_today = mid + timedelta(days=3)
    rolled = timed(
        "rollup_ttl",
        lambda: apply_rollup_ttl(spark, flows_path, 2, today=fake_today),
    )
    out["rollup_ttl"].update(
        {
            "partitions_rolled": len(rolled),
            "rows_after": spark.read.parquet(flows_path).count(),
        }
    )
    dropped = timed(
        "retention",
        lambda: apply_retention(flows_path, keep_days=2, today=fake_today),
    )
    out["retention"]["partitions_dropped"] = len(dropped)

    print(json.dumps(out))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
