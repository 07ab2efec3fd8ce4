#!/usr/bin/env python
"""Dump the flow stream's PER-MICRO-BATCH physical plan: the
prebuilt-SQL-text path (flowsql.flow_batch_sql), what start_flow_stream
runs per trigger (one temp-view bind + one spark.sql).

The streaming gates' (q34/q267) final read-back plan is a trivial
scan+agg that never changed; the per-batch plan IS the plan the r8
optimization touches, so this is what plans/r08 records for them.

Usage: python tools/dump_flow_batch_plans.py [outdir] [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    outdir = Path(sys.argv[1] if len(sys.argv) > 1 else "plans/r08")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.flowsql import (
        collect_lpm_segments,
        flow_batch_sql,
        register_flow_dim_views,
    )
    from kubenetmon_spark.operators.label import prepare_label_dims
    from kubenetmon_spark.operators.lpm import disjoint_prefixes
    from kubenetmon_spark.session import get_spark

    spark = get_spark("dump_flow_batch_plans")
    spark.sparkContext.setLogLevel("ERROR")
    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    disjoint = disjoint_prefixes(prefixes).repartition(1).persist()
    disjoint.count()
    prepared = prepare_label_dims(pods, nodes)

    def dump(df, path: Path, header: str) -> None:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path.write_text(f"-- {header}\n" + buf.getvalue())
        print("dumped", path)

    # the prebuilt SQL text bound to the batch source
    views = register_flow_dim_views(spark, prepared, disjoint, tag="dump")
    segments = collect_lpm_segments(disjoint)
    obs.createOrReplaceTempView("_dump_obs")
    text = flow_batch_sql(DEMO_CFG, prepared, "_dump_obs", *views, segments)
    dump(
        spark.sql(text),
        outdir / "q34_flow_batch_after.txt",
        "per-micro-batch plan, prebuilt-SQL-text path (r8: text built "
        "once per dim refresh; each trigger = view bind + one "
        "spark.sql)",
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
