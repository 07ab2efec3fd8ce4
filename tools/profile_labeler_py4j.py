#!/usr/bin/env python
"""Profile the flow labeler's driver-side plan-construction cost: py4j
roundtrips + wall-clock of building the plan, separated from execution,
for the two ways the engine binds the labeler's SQL text:

- ``label_flows``: one call over fresh dims (batch callers, q319,
  backfill, the windowed stream) — dim derivation, view binds and one
  ``spark.sql``;
- ``flow_batch_sql``: one micro-batch of start_flow_stream — the text
  is prebuilt once per dimension refresh, so a batch is one temp-view
  bind + one ``spark.sql``.

Usage: python tools/profile_labeler_py4j.py [sf_dir]
Prints one JSON line with, per form: {"roundtrips": N,
"plan_construct_s": ..., "plan_construct_best_s": ..., "exec_best_s":
...}.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.flowsql import (
        collect_lpm_segments,
        flow_batch_sql,
        register_flow_dim_views,
    )
    from kubenetmon_spark.operators.label import label_flows, prepare_label_dims
    from kubenetmon_spark.operators.lpm import disjoint_prefixes
    from kubenetmon_spark.session import get_spark

    spark = get_spark("profile_labeler")
    spark.sparkContext.setLogLevel("ERROR")

    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    obs = obs.persist()
    obs.count()
    dim = disjoint_prefixes(prefixes).persist()
    dim.count()
    prepared = prepare_label_dims(pods, nodes)
    views = register_flow_dim_views(spark, prepared, dim, tag="prof")
    sql_text = flow_batch_sql(
        DEMO_CFG, prepared, "_prof_obs", *views, collect_lpm_segments(dim)
    )

    def one_batch():
        obs.createOrReplaceTempView("_prof_obs")
        return spark.sql(sql_text)

    out = {
        "label_flows": _profile(
            lambda: label_flows(obs, pods, nodes, prefixes, DEMO_CFG)
        ),
        "flow_batch_sql": _profile(one_batch),
        "sf_dir": sf_dir,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


def _profile(build_plan) -> dict:
    # Warm (classloading, analysis caches, codegen)
    build_plan().write.format("noop").mode("overwrite").save()

    # Count py4j roundtrips during ONE plan construction by wrapping the
    # gateway client's send_command (every synchronous JVM call goes
    # through it exactly once).
    import py4j.java_gateway as jg

    counter = {"n": 0}
    orig = jg.GatewayClient.send_command

    def counting(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    jg.GatewayClient.send_command = counting
    try:
        t0 = time.perf_counter()
        build_plan()
        construct_s = time.perf_counter() - t0
    finally:
        jg.GatewayClient.send_command = orig

    # Best-of-5 wall clock for plan construction (no instrumentation)
    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        build_plan()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)

    # Execution (plan already built): best-of-3 noop write
    plan = build_plan()
    exec_best = None
    for _ in range(3):
        t0 = time.perf_counter()
        plan.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        exec_best = dt if exec_best is None else min(exec_best, dt)
    return {
        "roundtrips": counter["n"],
        "plan_construct_s": round(construct_s, 3),
        "plan_construct_best_s": round(best, 3),
        "exec_best_s": round(exec_best, 3),
    }

if __name__ == "__main__":
    raise SystemExit(main())
