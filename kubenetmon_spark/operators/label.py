"""The flow labeler: raw observations -> enriched, classified flow rows.

The labeling itself is ONE SQL text (flowsql.labeled_sql — the
reference's `Labeler.LabelFlow`, reference pkg/labeler/labeler.go:236-377,
plus the agent-side filters); this module derives the dimensions it
joins against and binds DataFrames to it:

- :func:`label_flows` — one call, one lazy ``spark.sql`` over fresh
  dims (batch and streaming DataFrames alike);
- :func:`prepare_label_dims` — long-lived callers (the streaming jobs)
  derive and persist the dims once per refresh and collect the small
  node dims to in-plan literals.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kubenetmon_spark.config import RuntimeConfig
from kubenetmon_spark.dims import pods_with_ambiguity
from kubenetmon_spark.flowsql import labeled_sql
from kubenetmon_spark.operators.lpm import (
    band_segments,
    disjoint_prefixes,
    disjoint_prefixes6,
    lpm6_sides,
)

# Above this many nodes, the node-IP set / zone map stay broadcast
# JOINS instead of in-plan literals (an IN-set / map literal of ~10k
# entries is still cheap to evaluate — OptimizeIn folds it to a hash
# set — but unbounded dims must never inline into the plan).
LITERAL_NODE_DIM_LIMIT = 10_000


def _node_dims(nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(node_ips, zones): the distinct node IPs for the node-flow
    filter, and one zone per node name for the AZ lookup. One row per
    name is ENFORCED (min zone — deterministic), not assumed: k8s
    guarantees name uniqueness at any instant, but a stale/concatenated
    dim snapshot with duplicate names would silently MULTIPLY fact rows
    in the zone join — corrupting every downstream sum — where the
    reference's map-keyed cache just takes the last write."""
    node_ips = nodes.select(F.col("internal_ip").alias("_nip")).distinct()
    zones = nodes.groupBy(F.col("name").alias("_zn")).agg(
        F.min("zone").alias("_zz")
    )
    return node_ips, zones


def prepare_label_dims(pods: DataFrame, nodes: DataFrame) -> dict:
    """Derive + persist the labeler's three dimension subtrees ONCE for
    long-lived callers (the streaming jobs): the pod-by-IP index with
    its ambiguity guard, the node-IP set for the node-flow filter, and
    the zone-by-node-name lookup. Without this every micro-batch
    re-runs three small aggregations before it can broadcast — pure
    fixed cost at high trigger rates. Pass the returned dict to
    flowsql.register_flow_dim_views / labeled_sql; release with
    ``release_label_dims`` on dimension refresh.

    The node-keyed dims additionally collect to driver-side LITERALS
    (IP set, zone map) up to :data:`LITERAL_NODE_DIM_LIMIT` rows —
    the reference holds exactly these as in-memory Go maps
    (reference pkg/labeler/labeler.go:407-427, 341-346). The labeler
    then evaluates them in-plan: four broadcast joins (two dims x two
    endpoint sides) become zero, which is pure per-micro-batch fixed
    cost at streaming trigger rates. Collection happens HERE, once per
    dimension refresh, never per batch."""
    # repartition(1) before the persist: the cached dim is scanned once
    # or twice per micro-batch to BUILD its broadcast, and a cached
    # aggregation output keeps the full shuffle-partition layout (AQE
    # may not change cached-plan partitioning), so every build was a
    # 32-task job over slivers. One partition = one-task builds. Any
    # pod dim eligible for broadcast (hard 8 GB cap) trivially fits a
    # single partition, so this is not a local-mode constant.
    pod_dim = pods_with_ambiguity(pods).repartition(1).persist()
    # Node literals (when they fit — the overwhelmingly common case)
    # keep the node-dim DataFrames out of every plan, so
    # persisting+counting them was two pure-overhead jobs per
    # dimension refresh (~0.8s measured warm at local[32]). Only the
    # >LITERAL_NODE_DIM_LIMIT case, where the text broadcast-joins
    # them per batch, persists. (A coalesce(1) on the tiny dims was
    # tried here and in disjoint_prefixes and REVERTED: a single-task
    # stage over a parallelized local relation stalls ~6s/stage at
    # local[32] — measured, see OPTIMIZATION_r07.md.)
    # r8: the pod-dim materializing count and the node-literal
    # collects are independent tiny jobs — overlap them (guide §2.6).
    node_ips, zones = _node_dims(nodes)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fc = _pool.submit(pod_dim.count)
        _fl = _pool.submit(_collect_node_literals, node_ips, zones)
        _fc.result()
        literals = _fl.result()
    if literals["node_ip_set"] is None:
        node_ips = node_ips.persist()
        node_ips.count()
    if literals["zone_map"] is None:
        zones = zones.persist()
        zones.count()
    return {
        "pod_dim": pod_dim,
        "node_ips": node_ips,
        "zones": zones,
        **literals,
    }


def _collect_node_literals(node_ips: DataFrame, zones: DataFrame) -> dict:
    """{"node_ip_set": frozenset|None, "zone_map": dict|None} — None
    when the dim exceeds :data:`LITERAL_NODE_DIM_LIMIT` (the text then
    joins against it)."""
    ips = node_ips.limit(LITERAL_NODE_DIM_LIMIT + 1).collect()
    zs = zones.limit(LITERAL_NODE_DIM_LIMIT + 1).collect()
    out: dict = {"node_ip_set": None, "zone_map": None}
    if len(ips) <= LITERAL_NODE_DIM_LIMIT:
        out["node_ip_set"] = frozenset(
            r["_nip"] for r in ips if r["_nip"] is not None
        )
    if len(zs) <= LITERAL_NODE_DIM_LIMIT:
        out["zone_map"] = {
            r["_zn"]: r["_zz"] for r in zs if r["_zn"] is not None
        }
    return out


def release_label_dims(prepared: dict) -> None:
    """Unpersist a ``prepare_label_dims`` result (dimension refresh)."""
    for d in prepared.values():
        if isinstance(d, DataFrame):
            d.unpersist()


def label_flows(
    observations: DataFrame,
    pods: DataFrame,
    nodes: DataFrame,
    prefixes: DataFrame,
    cfg: RuntimeConfig,
    prefixes6: DataFrame | None = None,
) -> DataFrame:
    """Observations (OBSERVATION_SCHEMA) -> labeled flows.

    Output: one row per observation with every network_flows dimension,
    directional counters (bytes_out/in, packets_out/in) and a
    ``reject_reason`` column (null = accepted). Feed accepted rows to
    operators.flows.to_flow_rows for the 2-row direction fan-out.

    Lazy and streaming-legal: the dims and ``observations`` bind to the
    flowsql text under temp views that are dropped before returning
    (the analyzed plan already holds them), and every dimension lookup
    is a broadcast join, so a streaming ``observations`` stays a
    streaming plan with no stateful operator. ``prefixes`` may be the
    raw cloud-prefix dim or an already-flattened
    lpm.disjoint_prefixes result (read from the schema: ``seg_start``);
    likewise ``prefixes6`` (``s_hi``, lpm.disjoint_prefixes6).

    IPv6 (``cfg.ignore_ipv6=False`` — beyond-reference mode; the
    reference drops v6 at F5): v6 observations flow through the same
    text. Endpoints coalesce to the v6 string columns; the remote
    parses to a 128-bit (hi, lo) pair in-plan (functions/ip.py, no
    UDF) and classifies through ``prefixes6`` (see
    lpm.prefixes6_from_cidrs) via two more broadcast joins.
    ULA/link-local/loopback short-circuit as private (INTRA_VPC).
    Unparseable remotes reject per-row as ``ipv6_parse_error`` /
    ``ipv4_parse_error`` — never a silent misclassification. The output
    ``localIPv4``/``remoteIPv4`` columns carry the v6 string in this
    mode (schema-stable; the name keeps reference parity).
    """
    disjoint = (
        prefixes
        if "seg_start" in prefixes.columns
        else disjoint_prefixes(prefixes)
    )
    node_ips, zones = _node_dims(nodes)
    frames = {
        "obs": observations,
        "pods": pods_with_ambiguity(pods),
        "banded": band_segments(disjoint),
        "node_ips": node_ips,
        "zones": zones,
    }
    if not cfg.ignore_ipv6 and prefixes6 is not None:
        d6 = (
            prefixes6
            if "s_hi" in prefixes6.columns
            else disjoint_prefixes6(prefixes6)
        )
        frames["lpm6_narrow"], frames["lpm6_wide"] = lpm6_sides(d6)
    tag = uuid.uuid4().hex
    views = {k: f"_label_{k}_{tag}" for k in frames}
    # no node literals: the node dims join against their views
    prepared = {"node_ip_view": views["node_ips"], "zone_view": views["zones"]}
    if "lpm6_narrow" in views:
        prepared["lpm6_narrow_view"] = views["lpm6_narrow"]
        prepared["lpm6_wide_view"] = views["lpm6_wide"]
    spark = observations.sparkSession
    try:
        for k, df in frames.items():
            df.createOrReplaceTempView(views[k])
        return spark.sql(
            labeled_sql(
                cfg, prepared, views["obs"], views["pods"], views["banded"]
            )
        )
    finally:
        for v in views.values():
            spark.catalog.dropTempView(v)


def split_rejected(labeled: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(accepted, dead_letter) — the reference counts expected errors and
    skips them (reference cmd/server/server.go:100-113)."""
    return (
        labeled.filter(F.col("reject_reason").isNull()),
        labeled.filter(F.col("reject_reason").isNotNull()),
    )
