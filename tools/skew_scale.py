#!/usr/bin/env python
"""Measured skew study: the flagship summing aggregation over sf1-scale
fact rows, uniform vs 90%-one-key (the single-chatty-pod shape,
SURVEY.md §4.5). The unit kill-test (tests/test_plans.py) proves the
plan shape and exactness; this records the RUNTIME evidence that
map-side partial aggregation makes the skewed case cost the same as the
uniform one.

Usage: python tools/skew_scale.py [sf_dir]   (default .scale/sf1)
Prints one JSON line with best-of-3 timings for both distributions.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    args = sys.argv[1:]
    sf_dir = args[0] if args else str(
        Path(__file__).resolve().parent.parent / ".scale/sf1"
    )

    from pyspark.sql import functions as F

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
    from kubenetmon_spark.operators.label import label_flows, split_rejected
    from kubenetmon_spark.operators.lpm import disjoint_prefixes
    from kubenetmon_spark.session import get_spark

    spark = get_spark("skew_scale")
    spark.sparkContext.setLogLevel("ERROR")

    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    dim = disjoint_prefixes(prefixes).persist()
    dim.count()
    accepted, _ = split_rejected(
        label_flows(obs, pods, nodes, dim, DEMO_CFG)
    )
    uniform = to_flow_rows(accepted).persist()
    n = uniform.count()

    # 90%-one-key: overwrite the high-cardinality dims of 90% of rows
    # with one hot pod's values (keep date/minute so partition pruning
    # and key count stay realistic)
    hot_cols = [
        "localPod", "localIPv4", "localPort", "remotePod", "remoteIPv4",
        "remotePort", "localApp", "remoteApp",
    ]
    is_hot = F.pmod(F.xxhash64("localPort", "remotePort"), F.lit(10)) < 9
    skewed = uniform
    for c in hot_cols:
        val = F.lit(0) if c.endswith("Port") else F.lit("hotpod")
        skewed = skewed.withColumn(
            c, F.when(is_hot, val).otherwise(F.col(c))
        )
    skewed = skewed.persist()
    skewed.count()

    def best3(df):
        best = None
        summing_aggregate(df).write.format("noop").mode("overwrite").save()
        for _ in range(3):
            t0 = time.perf_counter()
            summing_aggregate(df).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    t_uniform = best3(uniform)
    t_skewed = best3(skewed)
    n_hot = skewed.filter(F.col("localPod") == "hotpod").count()

    # --- adversarial scenario 2 (VERDICT r03 #3): ONE remote IP on 50%
    # of observations, through the FULL labeler. The LPM and pod joins
    # are broadcast-hash, so a hot probe key must cost like any other
    # key — no shuffle partition can pile up. Assert ratio within ~2x.
    is_hot_obs = F.pmod(F.xxhash64("orig_src_port"), F.lit(2)) == 0
    hot_ip = F.lit("52.218.77.99")  # inside the aws /16 -> LPM hit
    obs_hot = (
        obs.withColumn(
            "orig_dst_ip",
            F.when(is_hot_obs, hot_ip).otherwise(F.col("orig_dst_ip")),
        )
        .withColumn(
            "reply_src_ip",
            F.when(is_hot_obs, hot_ip).otherwise(F.col("reply_src_ip")),
        )
        .persist()
    )
    n_obs_hot = obs_hot.count()

    def label_best3(o):
        def run():
            acc, _ = split_rejected(
                label_flows(o, pods, nodes, dim, DEMO_CFG)
            )
            summing_aggregate(to_flow_rows(acc)).write.format("noop").mode(
                "overwrite"
            ).save()

        run()
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            run()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    obs_p = obs.persist()
    obs_p.count()
    t_label_uniform = label_best3(obs_p)
    t_label_hot = label_best3(obs_hot)
    obs_hot.unpersist()
    obs_p.unpersist()

    # --- adversarial scenario 3: ONE shingle present in 30% of docs,
    # through MinHash-LSH near-dup (the banded candidate join). A hot
    # shingle can become the min signature for many docs -> hot band
    # values; the exact-verify equi-join must split under AQE rather
    # than stall one reducer. Assert ratio within ~2x of uniform docs.
    from kubenetmon_spark.operators.dedup import minhash_lsh_pairs
    from kubenetmon_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_hot = docs.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3,
            F.concat(F.col("text"), F.lit(" zzqhotshingletoken")),
        ).otherwise(F.col("text")),
    ).persist()
    n_docs = docs_hot.count()

    def lsh_best2(d):
        def run():
            minhash_lsh_pairs(d, "doc_id", "text").write.format("noop").mode(
                "overwrite"
            ).save()

        run()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            run()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    docs_p = docs.persist()
    docs_p.count()
    t_lsh_uniform = lsh_best2(docs_p)
    t_lsh_hot = lsh_best2(docs_hot)
    docs_hot.unpersist()
    docs_p.unpersist()

    out = {
        "sf_dir": sf_dir,
        "n_fact_rows": n,
        "hot_key_rows": n_hot,
        "hot_fraction": round(n_hot / n, 3),
        "uniform_s": t_uniform,
        "skewed_s": t_skewed,
        "ratio": round(t_skewed / t_uniform, 2),
        "labeler_n_obs": n_obs_hot,
        "labeler_uniform_s": t_label_uniform,
        "labeler_hot_remote_s": t_label_hot,
        "labeler_ratio": round(t_label_hot / t_label_uniform, 2),
        "lsh_n_docs": n_docs,
        "lsh_uniform_s": t_lsh_uniform,
        "lsh_hot_shingle_s": t_lsh_hot,
        "lsh_ratio": round(t_lsh_hot / t_lsh_uniform, 2),
        "pass_within_2x": (
            t_label_hot <= 2 * t_label_uniform
            and t_lsh_hot <= 2 * t_lsh_uniform
        ),
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if out["pass_within_2x"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
