#!/usr/bin/env python
"""Scaling-exponent study for the STORAGE-LIFECYCLE operators (r05
VERDICT #4): the round-5 study fitted sf0.1->1->10 exponents for the
five heaviest *query* shapes; this one does the same for the lifecycle
ops that would churn daily at 100 TB — append, compact, z-order
rewrite, rollup-TTL, retention drop, full + incremental backup,
restore, and IVF index rebuild.

    python tools/lifecycle_exponents.py [--runs=2] [--out=json_path]

Same harness posture as tools/scaling_exponents.py: one SparkSession
(one JVM) per SF so heap sizing and cache state can't leak across
decades; each op runs ``--runs`` times, best kept. Lifecycle ops MUTATE
state, so "run it again" means something per op and the cycle is
ordered to keep every repeat shape-identical to its first run:

- append:      batch 1 and batch 2 land in the same table (best of 2);
- compact:     fold #1 folds batches 1+2 (2n rows -> n); an untimed
               third append restores the 2n-row input so fold #2 is the
               same shape (compacted n + batch n -> n);
- zorder:      pure rewrite to a fresh dir per run;
- backup full: pure copy+md5 to a fresh dir per run;
- backup incr: one untimed append first, so the incremental pass
               md5-scans the whole table but copies only the new batch
               (ClickHouse base-backup semantics, sink.py::backup_table);
- restore:     follows the incremental chain to a fresh dir per run;
- rollup_ttl:  re-aggregates aged partitions in place; the fold is
               idempotent row-wise so run #2 scans+rewrites the same
               partitions (same shape, sink.py::apply_rollup_ttl);
- mutate:      ALTER..UPDATE over every partition (predicate matches
               the 'in' direction, value-preserving assignment) — the
               rewrite shape is identical on every run;
- delete_where: ALTER..DELETE of a ~10% row slice; each run deletes a
               DIFFERENT same-size slice (bytes % 10 = 3, then 4) so
               the scan+rewrite shape repeats while rows only shrink
               by a sliver between runs;
- column_ttl:  clears one column in aged partitions; the per-partition
               marker makes re-runs no-ops, so run #2 clears a
               DIFFERENT column over the same partition set
               (sink.py::apply_column_ttl);
- retention:   metadata-only partition drop — timed once (a second run
               would be a no-op over zero partitions);
- ivf_rebuild: whole-index rebuild over the SF's embeddings table
               (operators/similarity.py::build_ivf_index overwrites
               static — rebuild IS the repeatable op).

Inputs: /root/testdata/sf0.1, .scale/sf1, .scale/sf10 (both via
tools/make_scale_data.py — see its header). The flow table per SF is
the full labeler output (demo.build_flow_inputs -> label_flows ->
summing_aggregate), i.e. the same table lifecycle ops would see in
production, not a synthetic stand-in.

Exponent e = log10(t_next/t_prev) per decade; the ≤1.2 bar from the
round-5 study applies to the 1->10 decade where fixed overhead no
longer dominates. retention is reported but exempt from the bar: at
<~0.2 s wall it is pure fixed cost and log-ratios of noise.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

OPS = [
    "append",
    "compact",
    "zorder",
    "backup_full",
    "backup_incr",
    "restore",
    "rollup_ttl",
    "mutate",
    "delete_where",
    "column_ttl",
    "retention",
    "ivf_rebuild",
]

# retention is a whole-directory delete (ttl_only_drop_parts
# semantics): wall time is dominated by per-partition fixed cost, and
# a log-ratio of two ~0.1 s measurements is noise, not a shape.
EXEMPT_FROM_BAR = {"retention"}

SFS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(ROOT / ".scale/sf1")),
    ("sf10", str(ROOT / ".scale/sf10")),
]

_SF_CODE = """
import json, shutil, sys, tempfile, time
from datetime import date, timedelta

sys.path.insert(0, {root!r})

from pyspark.sql import functions as F

from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
from kubenetmon_spark.operators.label import label_flows, split_rejected
from kubenetmon_spark.operators.lpm import disjoint_prefixes
from kubenetmon_spark.operators.similarity import build_ivf_index
from kubenetmon_spark.operators.zorder import zorder_write
from kubenetmon_spark.session import get_spark
from kubenetmon_spark.sink import (
    apply_column_ttl,
    apply_retention,
    apply_rollup_ttl,
    backup_table,
    compact,
    delete_where,
    mutate,
    restore_table,
    write_flows,
)
from kubenetmon_spark.tables import load_table

sf_dir = {sf_dir!r}
runs = {runs!r}
spark = get_spark("lifecycle_exponents")
spark.sparkContext.setLogLevel("ERROR")
tmp = tempfile.mkdtemp(prefix="lifecycle_exp_")
flows_path = f"{{tmp}}/flows"

# -- setup (untimed as a lifecycle op: this is q26's shape, already
# exponent-fitted in the round-5 query study) --------------------------
obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
dim = disjoint_prefixes(prefixes).persist()
dim.count()
accepted, _ = split_rejected(
    label_flows(obs, pods, nodes, dim, DEMO_CFG)
)
flows = summing_aggregate(to_flow_rows(accepted)).persist()
n_batch = flows.count()

times = {{}}
evidence = {{"n_flow_rows_per_batch": n_batch}}


def record(name, dt):
    prev = times.get(name)
    times[name] = round(dt if prev is None else min(prev, dt), 3)


def timed(name, fn):
    t0 = time.monotonic()
    r = fn()
    record(name, time.monotonic() - t0)
    return r


# append: batches 1 and 2 (best of 2, same table)
timed("append", lambda: write_flows(flows, flows_path))
timed("append", lambda: write_flows(flows, flows_path))

# compact fold #1: 2 batches (2n rows) -> n
timed("compact", lambda: compact(spark, flows_path))
rows_after_fold1 = spark.read.parquet(flows_path).count()
assert rows_after_fold1 == n_batch, "compact must fold 2 batches to 1"
# restore the 2n-row input shape, fold #2
write_flows(flows, flows_path)
if runs > 1:
    timed("compact", lambda: compact(spark, flows_path))
evidence["rows_after_compact"] = spark.read.parquet(flows_path).count()

post = spark.read.parquet(flows_path)
for i in range(runs):
    timed(
        "zorder",
        lambda i=i: zorder_write(
            post, f"{{tmp}}/z{{i}}", ["localPort", "remotePort"], n_files=32
        ),
    )

for i in range(runs):
    m = timed(
        "backup_full", lambda i=i: backup_table(flows_path, f"{{tmp}}/b{{i}}")
    )
evidence["backup_full_files"] = m["n_files"]

# one more (untimed) append so the incremental pass has new files to
# copy while md5-scanning the whole table
write_flows(flows, flows_path)
for i in range(runs):
    m = timed(
        "backup_incr",
        lambda i=i: backup_table(
            flows_path, f"{{tmp}}/bi{{i}}", base_backup=f"{{tmp}}/b0"
        ),
    )
evidence["backup_incr_copied"] = sum(
    1 for e in m["files"] if not e.get("in_base")
)

for i in range(runs):
    n_restored = timed(
        "restore", lambda i=i: restore_table(f"{{tmp}}/bi0", f"{{tmp}}/r{{i}}")
    )
evidence["restore_files"] = n_restored
evidence["restore_rows"] = spark.read.parquet(f"{{tmp}}/r0").count()

from kubenetmon_spark import fs as _fsm

fs = _fsm.get_fs(flows_path, spark)
dates = sorted(
    n.split("=", 1)[1]
    for n in fs.list_names(flows_path)
    if n.startswith("date=")
)
mid = date.fromisoformat(dates[len(dates) // 2])
fake_today = mid + timedelta(days=3)
rolled = timed(
    "rollup_ttl", lambda: apply_rollup_ttl(spark, flows_path, 2, today=fake_today)
)
evidence["rollup_partitions"] = len(rolled)
if runs > 1:  # idempotent fold: run #2 rescans+rewrites the same aged range
    timed(
        "rollup_ttl",
        lambda: apply_rollup_ttl(spark, flows_path, 2, today=fake_today),
    )

# mutation family (VERDICT r06 #7). Cardinality-asserted per the
# house rule: an op that touched nothing measured nothing.
m_parts = timed(
    "mutate",
    lambda: mutate(
        spark, flows_path, "direction = 'in'", {{"remoteCell": "''"}}
    ),
)
assert m_parts, "mutate touched no partitions — nothing measured"
evidence["mutate_partitions"] = len(m_parts)
if runs > 1:
    timed(
        "mutate",
        lambda: mutate(
            spark, flows_path, "direction = 'in'", {{"remoteCell": "''"}}
        ),
    )

d_parts = timed(
    "delete_where", lambda: delete_where(spark, flows_path, "bytes % 10 = 3")
)
assert d_parts, "delete_where touched no partitions — nothing measured"
evidence["delete_partitions"] = len(d_parts)
if runs > 1:
    timed(
        "delete_where",
        lambda: delete_where(spark, flows_path, "bytes % 10 = 4"),
    )

c_parts = timed(
    "column_ttl",
    lambda: apply_column_ttl(
        spark, flows_path, "remoteApp", 2, default_sql="''", today=fake_today
    ),
)
assert c_parts, "column_ttl touched no partitions — nothing measured"
evidence["column_ttl_partitions"] = len(c_parts)
if runs > 1:
    timed(
        "column_ttl",
        lambda: apply_column_ttl(
            spark, flows_path, "localApp", 2, default_sql="''",
            today=fake_today,
        ),
    )

dropped = timed(
    "retention", lambda: apply_retention(flows_path, keep_days=2, today=fake_today)
)
evidence["retention_partitions_dropped"] = len(dropped)

emb = load_table(spark, sf_dir, "embeddings")
for _ in range(runs):
    timed(
        "ivf_rebuild",
        lambda: build_ivf_index(emb, f"{{tmp}}/ivf", n_centroids=16),
    )
evidence["ivf_vectors"] = emb.count()

shutil.rmtree(tmp, ignore_errors=True)
print(json.dumps({{"times": times, "evidence": evidence}}))
"""


def _run_sf(sf_dir: str, runs: int) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    proc = subprocess.run(
        [sys.executable, "-c", _SF_CODE.format(root=str(ROOT), sf_dir=sf_dir, runs=runs)],
        capture_output=True,
        text=True,
        env=env,
        timeout=7200,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"lifecycle subprocess failed for {sf_dir}:\n{proc.stderr[-4000:]}"
        )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    runs = 2
    out_path = str(ROOT / ".scale/lifecycle_exponents.json")
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    results: dict[str, dict] = {}
    for sf_name, sf_dir in SFS:
        if not Path(sf_dir).is_dir():
            raise SystemExit(f"missing {sf_dir} — build it first (see header)")
        print(f"== {sf_name} ({sf_dir})", flush=True)
        t0 = time.monotonic()
        results[sf_name] = _run_sf(sf_dir, runs)
        print(
            f"   {sf_name} done in {time.monotonic() - t0:.0f}s: "
            f"{results[sf_name]['times']}",
            flush=True,
        )

    report = {
        "runs": runs,
        "times_s": {k: v["times"] for k, v in results.items()},
        "evidence": {k: v["evidence"] for k, v in results.items()},
        "exponents": {},
    }
    print(f"\n{'op':14} {'sf0.1':>8} {'sf1':>8} {'sf10':>8} "
          f"{'e(0.1->1)':>10} {'e(1->10)':>9}")
    worst = 0.0
    for name in OPS:
        t01 = results["sf0.1"]["times"][name]
        t1 = results["sf1"]["times"][name]
        t10 = results["sf10"]["times"][name]

        def _e(a: float, b: float) -> float:
            # both operands guarded: a sub-millisecond op rounds to
            # 0.000s and log10 of/by zero would abort the whole study
            return math.log10(b / a) if a > 0 and b > 0 else float("nan")

        e01 = _e(t01, t1)
        e110 = _e(t1, t10)
        report["exponents"][name] = {
            "e_01_to_1": round(e01, 3),
            "e_1_to_10": round(e110, 3),
        }
        exempt = name in EXEMPT_FROM_BAR
        if not exempt:
            worst = max(worst, e110)
        flag = "  <-- SUPER-LINEAR" if (e110 > 1.2 and not exempt) else (
            "  (fixed-cost, exempt)" if exempt else "")
        print(f"{name:14} {t01:8.2f} {t1:8.2f} {t10:8.2f} "
              f"{e01:10.2f} {e110:9.2f}{flag}")

    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    Path(out_path).write_text(json.dumps(report, indent=1) + "\n")
    print(f"\nwrote {out_path}")
    return 0 if worst <= 1.2 else 1


if __name__ == "__main__":
    raise SystemExit(main())
