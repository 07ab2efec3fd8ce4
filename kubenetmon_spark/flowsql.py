"""The flow labeler as ONE SQL text — the engine's only labeler.

Re-expresses the reference's `Labeler.LabelFlow`
(reference pkg/labeler/labeler.go:236-377) plus the agent-side filters
(reference pkg/collector/collector.go:228-244) as one declarative
query. Where the Go code returns typed errors per observation, the text
carries a ``reject_reason`` column (null = accepted); the reference's
error taxonomy (reference cmd/server/server.go:100-117) becomes a
dead-letter predicate.

Operator map (SURVEY.md §2): F1-F7 filters, J1-J7 joins, P1-P10
projections; the stage comments below carry those names. X1/A1/A2 (the
direction fan-out and the SummingMergeTree fold) are
:func:`flows_agg_sql` here and operators/flows.py for DataFrame callers.

Endpoint resolution and NAT: conntrack's reply tuple is the un-NAT'd
truth — the real remote of a flow is ``reply_src`` (who answers), the
real local is ``orig_src`` (who initiated). This single rule covers all
four NAT shapes in the reference's conformance tests (egress NAT where
reply comes back to the node IP, Azure-style reply to the pod IP, service
VIPs resolving to a backend pod, and plain pod-to-pod;
reference pkg/labeler/labeler_test.go:323-1177, endpoints 1775-2010).

Why text: building the labeler from Python
Column calls cost ~2,700 py4j roundtrips per build. The text is pure
Python string work, so the streaming jobs render it once per dimension
refresh and per micro-batch do two py4j calls (bind the batch under a
temp view, ``spark.sql``); batch callers (operators/label.label_flows)
render it once per call. Analysis runs once over the final tree.

Every configuration renders here, each choice picked by size or
config, never by a fallback:

- v4 reference mode (``cfg.ignore_ipv6``) or the v6 metering mode
  (v4/v6 endpoint coalesce, staged v6 parse, v6 LPM joins);
- node dims as in-plan literals (``prepared`` from
  label.prepare_label_dims, up to label.LITERAL_NODE_DIM_LIMIT) or as
  broadcast joins against views (larger dims, or no literals at all);
- the v4 LPM as an inlined CASE chain (:func:`collect_lpm_segments`)
  or the banded broadcast join.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from kubenetmon_spark.config import RuntimeConfig
from kubenetmon_spark.functions.ip import (
    ip_to_long_sql,
    ipv6_groups_sql,
    ipv6_pair_sql,
    is_private_ip_num_sql,
    is_private_ipv6_pair_sql,
)
from kubenetmon_spark.operators.lpm import (
    BAND_SHIFT,
    MATCH_COLS,
    band_segments,
    lpm6_narrow_on_sql,
    lpm6_wide_on_sql,
)
from kubenetmon_spark.schema import DIM_COLS, PRIMARY_KEY_PREFIX

_POD_FIELDS = ["name", "namespace", "node_name", "label_app", "label_k8s_app", "label_control_plane_id"]


def _sql_lit(s: str) -> str:
    """A config string as a safe SQL string literal — backslash-escaped
    for Spark's DEFAULT parser mode (verified: both ``\\'`` and ``''``
    un-escape there; with legacy ``spark.sql.parser.escapedStringLiterals``
    NOTHING un-escapes, so embedded quotes are unrepresentable in that
    mode — the engine's session factory never enables it). cfg values
    are trusted deployment config; this only guarantees a stray quote
    corrupts nothing."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _pick(local_side: str, remote_side: str, col: str, alias: str) -> str:
    """P4 orientation CASE (reference labeler.go:276-331): toPodOnNode
    flips which endpoint is 'local' and which counters flow 'out'."""
    return (
        f"CASE WHEN flow_type = 'toPodOnNode' THEN {remote_side}_{col} "
        f"ELSE {local_side}_{col} END AS {alias}"
    )


def p4_select_exprs() -> list[str]:
    """The P4 local/remote normalization block (reference
    labeler.go:276-331): orig counters measure src->dst."""
    sel = [
        _pick("src", "dst", "ip", "local_ip"),
        _pick("src", "dst", "port", "local_port"),
        _pick("dst", "src", "ip", "remote_ip"),
        _pick("dst", "src", "port", "remote_port"),
        # bytes_out: toPodOnNode -> reply counters, else orig (and the
        # mirror for bytes_in) — remote_side is the THEN branch
        _pick("orig", "reply", "bytes", "bytes_out"),
        _pick("reply", "orig", "bytes", "bytes_in"),
        _pick("orig", "reply", "packets", "packets_out"),
        _pick("reply", "orig", "packets", "packets_in"),
    ]
    for f in _POD_FIELDS:
        sel.append(_pick("src", "dst", f"pod_{f}", f"local_pod_{f}"))
        sel.append(_pick("dst", "src", f"pod_{f}", f"remote_pod_{f}"))
    return sel


def zone_map_sql(zone_map: dict) -> str:
    """The zone lookup as ONE SQL map literal (the reference's
    in-memory Go map, labeler.go:341-346)."""
    if zone_map:
        entries = ", ".join(
            f"{_sql_lit(k)}, " + ("NULL" if v is None else _sql_lit(v))
            for k, v in sorted(zone_map.items())
        )
        return f"map({entries})"
    return "CAST(map() AS MAP<STRING,STRING>)"


def final_select_exprs(cfg: RuntimeConfig, reject_col: str = "_r") -> list[str]:
    """P5/P9/P2 output projection (reference labeler.go:334-373): pod
    metadata with the app-label fallback, runtime constants, proto
    rendering. cfg-derived literals go through _sql_lit so a quote in a
    config value cannot break out of the string literal."""
    return [
        "ts",
        f"{reject_col} AS reject_reason",
        "flow_type",
        f"{_sql_lit(cfg.environment)} AS environment",
        f"{_sql_lit(cfg.cluster)} AS cluster",
        "_flags AS connectionFlags",
        f"{_sql_lit(cfg.cloud)} AS localCloud",
        f"{_sql_lit(cfg.region)} AS localRegion",
        "'' AS localCell",
        "local_az AS localAvailabilityZone",
        "coalesce(local_pod_node_name, '') AS localNode",
        "coalesce(local_pod_label_control_plane_id, '') AS localInstanceID",
        "coalesce(local_pod_namespace, '') AS localNamespace",
        "coalesce(local_pod_name, '') AS localPod",
        "coalesce(local_pod_label_app, local_pod_label_k8s_app, '') AS localApp",
        "local_ip AS localIPv4",
        "local_port AS localPort",
        "CASE WHEN proto = 6 THEN 'TCP' WHEN proto = 17 THEN 'UDP' "
        "ELSE CAST(proto AS STRING) END AS proto",
        "connection_class AS connectionClass",
        "remote_cloud AS remoteCloud",
        "remote_region AS remoteRegion",
        "'' AS remoteCell",
        "remote_az AS remoteAvailabilityZone",
        "'UNKNOWN' AS remoteCluster",  # reference labeler.go:375
        "coalesce(remote_pod_node_name, '') AS remoteNode",
        "coalesce(remote_pod_label_control_plane_id, '') AS remoteInstanceID",
        "coalesce(remote_pod_namespace, '') AS remoteNamespace",
        "coalesce(remote_pod_name, '') AS remotePod",
        "coalesce(remote_pod_label_app, remote_pod_label_k8s_app, '') AS remoteApp",
        "remote_ip AS remoteIPv4",
        "remote_port AS remotePort",
        "remote_service AS remoteService",
        "bytes_out",
        "bytes_in",
        "packets_out",
        "packets_in",
    ]


def register_flow_dim_views(
    spark: SparkSession, prepared: dict, disjoint: DataFrame, tag: str = ""
) -> tuple[str, str]:
    """Register the dimension views the SQL text joins against (once
    per dimension refresh): the pod-by-IP index and the banded
    disjoint-interval LPM dimension. Returns (pod_view, banded_view),
    fully qualified. A node dim that did not collect to a literal
    (above label.LITERAL_NODE_DIM_LIMIT) is registered too, and its
    view name rides in ``prepared`` (``node_ip_view``/``zone_view``).

    GLOBAL temp views, deliberately: foreachBatch executes in a CLONED
    SparkSession whose session-local temp-view registry is a snapshot
    taken at stream start, so a dimension refresh re-registered as a
    session view would be invisible to later micro-batches. The global
    registry is shared live across all sessions of the application
    (and the cache manager is application-wide, so the views still
    resolve to the persisted dims)."""
    suffix = tag or uuid.uuid4().hex[:8]

    def register(name: str, df: DataFrame) -> str:
        df.createOrReplaceGlobalTempView(f"{name}_{suffix}")
        return f"global_temp.{name}_{suffix}"

    if prepared.get("node_ip_set") is None:
        prepared["node_ip_view"] = register("_flow_node_ips", prepared["node_ips"])
    if prepared.get("zone_map") is None:
        prepared["zone_view"] = register("_flow_zones", prepared["zones"])
    return (
        register("_flow_pod_dim", prepared["pod_dim"]),
        register("_flow_lpm_banded", band_segments(disjoint)),
    )


# Above this many disjoint LPM segments, the lookup stays a broadcast
# join; at or below it, the segments inline into the SQL text as one
# CASE range chain (the reference's in-memory trie posture for a small
# dimension) — one broadcast build fewer per micro-batch. Production
# cloud-range dims (~43k prefixes -> ~87k segments) use the join.
LITERAL_LPM_SEGMENT_LIMIT = 64


def collect_lpm_segments(disjoint) -> list | None:
    """The disjoint LPM dimension as driver-side rows when it is small
    enough to inline (else None). Run once per dimension refresh."""
    rows = disjoint.limit(LITERAL_LPM_SEGMENT_LIMIT + 1).collect()
    if len(rows) > LITERAL_LPM_SEGMENT_LIMIT:
        return None
    return sorted(rows, key=lambda r: r["seg_start"])


def _lpm_literal_sql(segments: list) -> str:
    """The disjoint-interval lookup as one CASE chain producing a
    struct of the MATCH_COLS (segments are disjoint, so at most one
    branch fires — identical to the at-most-one-row left join)."""

    def lit(v):
        return "NULL" if v is None else _sql_lit(v)

    whens = " ".join(
        f"WHEN remote_ip_num >= {int(r['seg_start'])}"
        f" AND remote_ip_num <= {int(r['seg_end'])}"
        " THEN named_struct("
        f"'prefix', {lit(r['prefix'])}, "
        f"'prefix_len', {'NULL' if r['prefix_len'] is None else int(r['prefix_len'])}, "
        f"'cloud', {lit(r['cloud'])}, "
        f"'service', {lit(r['service'])}, "
        f"'region', {lit(r['region'])})"
        for r in segments
    )
    null_struct = (
        "CAST(NULL AS STRUCT<prefix:STRING,prefix_len:INT,"
        "cloud:STRING,service:STRING,region:STRING>)"
    )
    return f"CASE {whens} ELSE {null_struct} END"


_FLAGS_KEY_SQL = (
    "to_json(map_from_entries(array_sort(map_entries(connectionFlags))))"
)


def labeled_sql(
    cfg: RuntimeConfig,
    prepared: dict,
    obs_view: str,
    pod_view: str,
    banded_view: str,
    lpm_segments: list | None = None,
) -> str:
    """SQL text labeling the observations in ``obs_view``
    (OBSERVATION_SCHEMA) -> one row per observation with every
    network_flows dimension, directional counters and
    ``reject_reason``.

    ``prepared`` picks the node-dim form: the ``node_ip_set`` /
    ``zone_map`` literals when present (not None), else broadcast joins
    against the ``node_ip_view`` / ``zone_view`` views it names. In v6
    mode (``cfg.ignore_ipv6=False``) it may name the two v6 LPM sides
    (``lpm6_narrow_view``/``lpm6_wide_view``, lpm.lpm6_sides); without
    them v6 remotes match no cloud prefix. ``lpm_segments`` (from
    :func:`collect_lpm_segments`) inlines the v4 LPM as a CASE chain
    instead of the broadcast join against ``banded_view``."""
    v6 = not cfg.ignore_ipv6
    node_ip_set = prepared.get("node_ip_set")
    zone_map = prepared.get("zone_map")
    lpm6 = v6 and "lpm6_narrow_view" in prepared

    # --- F1-F5 reject chain (first reason wins => flat CASE) ---
    reject_whens = [
        (
            "(coalesce(orig_bytes, 0) = 0 AND coalesce(orig_packets, 0) = 0"
            " AND coalesce(reply_bytes, 0) = 0"
            " AND coalesce(reply_packets, 0) = 0)",
            "zero_counters",
        ),
        ("NOT (proto IN (6, 17))", "unsupported_proto"),
        (
            "(orig_src_ip = '127.0.0.1' OR orig_dst_ip = '127.0.0.1'"
            " OR reply_src_ip = '127.0.0.1' OR reply_dst_ip = '127.0.0.1')",
            "localhost",
        ),
    ]
    if cfg.ignore_udp:
        reject_whens.append(("proto = 17", "udp_ignored"))
    # F5: the reference drops v6 (labeler.go:243-247); the v6 mode
    # labels it instead.
    if not v6:
        reject_whens.append(
            (
                "(orig_src_v6 IS NOT NULL OR orig_dst_v6 IS NOT NULL"
                " OR reply_src_v6 IS NOT NULL OR reply_dst_v6 IS NOT NULL)",
                "ipv6",
            )
        )
    r_sql = (
        "CASE "
        + " ".join(f"WHEN {c} THEN '{reason}'" for c, reason in reject_whens)
        + " ELSE NULL END"
    )

    # --- P1 endpoints; v6 mode: conntrack tuples are single-family per
    # flow, so the v6 string fills in exactly when the v4 one is absent
    if v6:
        src_ip = "coalesce(orig_src_ip, orig_src_v6)"
        dst_ip = "coalesce(reply_src_ip, reply_src_v6)"
    else:
        src_ip, dst_ip = "orig_src_ip", "reply_src_ip"

    # --- F6 node-flow hits (reference labeler.go:249-253, 407-427):
    # IN-set literals (null-safe via coalesce, a null endpoint never
    # matches) or two broadcast left joins against the node-IP view.
    # Both joins rename the view column, so their builds canonicalize
    # equal and the second reuses the first's broadcast ---
    s1_nip = ""
    s3_hints, s3_nip, s3_joins = "", "", ""
    if node_ip_set is not None:
        if node_ip_set:
            in_list = ", ".join(_sql_lit(ip) for ip in sorted(node_ip_set))
            nip_hit = f"coalesce(orig_src_ip IN ({in_list}), false)"
            nip2_hit = f"coalesce(reply_src_ip IN ({in_list}), false)"
        else:
            nip_hit = nip2_hit = "false"
        s1_nip = f",\n    {nip_hit} AS _nip_hit, {nip2_hit} AS _nip2_hit"
    else:
        nv = prepared["node_ip_view"]
        s3_hints = ", BROADCAST(nsrc), BROADCAST(ndst)"
        s3_nip = (
            ",\n    nsrc._nip1 IS NOT NULL AS _nip_hit,"
            " ndst._nip2 IS NOT NULL AS _nip2_hit"
        )
        s3_joins = (
            f"\n  LEFT JOIN (SELECT _nip AS _nip1 FROM {nv}) nsrc"
            " ON _s1.orig_src_ip = nsrc._nip1"
            f"\n  LEFT JOIN (SELECT _nip AS _nip2 FROM {nv}) ndst"
            " ON _s1.reply_src_ip = ndst._nip2"
        )

    # --- J1 pod-dim projections, one per endpoint side (reference
    # labeler.go:432-472; the multi-match error is the `ambiguous` flag
    # of dims.pods_with_ambiguity) ---
    def pod_sub(side: str) -> str:
        cols = ", ".join(
            [f"pod_ip AS _{side}_pod_ip", f"ambiguous AS {side}_pod_ambiguous"]
            + [f"pod.{f} AS {side}_pod_{f}" for f in _POD_FIELDS]
        )
        return f"(SELECT {cols} FROM {pod_view})"

    # --- P3 flow type (reference labeler.go:149-161, 475-499) ---
    src_on = "(src_pod_name IS NOT NULL AND src_pod_node_name = node_name)"
    dst_on = "(dst_pod_name IS NOT NULL AND dst_pod_node_name = node_name)"
    flow_type_sql = (
        f"CASE WHEN {src_on} AND {dst_on} THEN 'betweenPodsOnNode' "
        f"WHEN {src_on} THEN 'fromPodOnNode' "
        f"WHEN {dst_on} THEN 'toPodOnNode' ELSE 'unknown' END"
    )

    # --- F6/J1/F7 reject fold, in the Go early-return order ---
    r2_sql = (
        "CASE WHEN _r IS NOT NULL THEN _r "
        "WHEN (_nip_hit OR _nip2_hit) THEN 'node_flow' "
        "WHEN (coalesce(src_pod_ambiguous, false)"
        " OR coalesce(dst_pod_ambiguous, false)) THEN 'ambiguous_pod' "
        "WHEN flow_type = 'unknown' THEN 'unknown_direction' "
        "ELSE NULL END"
    )

    # --- J6 remote parse + private short-circuit (reference
    # remote.go:131-140). v6 mode stages the group parse (the regex
    # work) into its own column so it evaluates once per row; hi/lo
    # derive from the staged array.
    s6 = f"SELECT *, {ip_to_long_sql('remote_ip')} AS remote_ip_num FROM _s5"
    private = is_private_ip_num_sql("remote_ip_num")
    s7_from = "_s6"
    if v6:
        hi6, lo6 = ipv6_pair_sql("_r6_groups")
        s6 = (
            f"SELECT *, {ip_to_long_sql('remote_ip')} AS remote_ip_num,\n"
            "    contains(remote_ip, ':') AS _remote_is_v6,\n"
            "    CASE WHEN contains(remote_ip, ':')"
            f" THEN {ipv6_groups_sql('remote_ip')} END AS _r6_groups\n"
            "  FROM _s5\n"
            "),\n"
            f"_s6v AS (\n  SELECT *, {hi6} AS _r6_hi, {lo6} AS _r6_lo FROM _s6"
        )
        private = (
            "CASE WHEN _remote_is_v6 THEN "
            f"{is_private_ipv6_pair_sql('_r6_hi', '_r6_lo')} "
            f"ELSE {private} END"
        )
        s7_from = "_s6v"
        # a non-null remote of neither family rejects, never a silent
        # PUBLIC_INTERNET
        parse_whens = (
            "WHEN _remote_is_v6 AND _r6_hi IS NULL THEN 'ipv6_parse_error' "
            "WHEN NOT _remote_is_v6 AND remote_ip_num IS NULL"
            " THEN 'ipv4_parse_error' "
        )
    else:
        parse_whens = (
            "WHEN remote_ip IS NOT NULL AND remote_ip_num IS NULL"
            " THEN 'ipv4_parse_error' "
        )

    # --- J7 classification + reject + remote projections
    # (reference remote.go:131-175) ---
    cloud = _sql_lit(cfg.cloud)
    region = _sql_lit(cfg.region)
    cls_sql = (
        "CASE WHEN _remote_private THEN 'INTRA_VPC' "
        "WHEN lpm_cloud IS NULL THEN 'PUBLIC_INTERNET' "
        f"WHEN NOT (lpm_cloud = {cloud}) THEN 'PUBLIC_INTERNET' "
        "WHEN lpm_region = 'global' THEN 'INTRA_REGION' "
        f"WHEN lpm_region = {region} THEN 'INTRA_REGION' "
        "WHEN lpm_region = '' THEN 'UNKNOWN' "
        "ELSE 'INTER_REGION' END"
    )
    r3_sql = (
        "CASE WHEN _r IS NOT NULL THEN _r "
        + parse_whens
        + "WHEN connection_class = 'UNKNOWN' THEN 'remote_label_error' "
        "ELSE NULL END"
    )
    remote_cloud_sql = (
        f"CASE WHEN _remote_private THEN {cloud} "
        "ELSE coalesce(lpm_cloud, '') END"
    )
    remote_region_sql = (
        f"CASE WHEN _remote_private THEN {region} "
        f"WHEN lpm_region = 'global' THEN {region} "
        "ELSE coalesce(lpm_region, '') END"
    )

    # --- J5 v4 LPM over the disjoint intervals: a CASE chain or one
    # banded broadcast equi+range join, at most one match per row. With
    # the v6 LPM after it, the v4 match lands as _l4_* and the two
    # families coalesce into lpm_* (a row is one family, so at most one
    # side matches).
    l4 = "_l4_" if lpm6 else "lpm_"
    if lpm_segments is not None:
        lit_out = ", ".join(f"_lpm.{c} AS {l4}{c}" for c in MATCH_COLS)
        s8 = (
            f"  SELECT *, {lit_out}\n"
            f"  FROM (SELECT *, {_lpm_literal_sql(lpm_segments)} AS _lpm"
            " FROM _s7)"
        )
    else:
        lpm_out = ", ".join(f"b.{c} AS {l4}{c}" for c in MATCH_COLS)
        s8 = (
            f"  SELECT /*+ BROADCAST(b) */ _s7.*, {lpm_out}\n"
            "  FROM _s7\n"
            f"  LEFT JOIN {banded_view} b\n"
            f"    ON shiftright(remote_ip_num, {BAND_SHIFT}) = b.band\n"
            "    AND remote_ip_num BETWEEN b.seg_start AND b.seg_end"
        )
    s9_from = "_s8"
    if lpm6:
        # J5v6: the narrow banded equi join, then the wide nested-loop
        # join (lpm.lpm_lookup6's two sides)
        v6_out = ",\n    ".join(
            f"coalesce(_l4_{c}, n6._n_{c}, w6._w_{c}) AS lpm_{c}"
            for c in ("cloud", "region", "service")
        )
        narrow_on = lpm6_narrow_on_sql(
            "_r6_hi", "_r6_lo", "n6._band",
            "n6.s_hi", "n6.s_lo", "n6.e_hi", "n6.e_lo",
        )
        wide_on = lpm6_wide_on_sql(
            "_r6_hi", "_r6_lo",
            "w6._w_s_hi", "w6._w_s_lo", "w6._w_e_hi", "w6._w_e_lo",
        )
        s8 += (
            "\n),\n_s8v AS (\n"
            "  SELECT /*+ BROADCAST(n6), BROADCAST(w6) */ _s8.*,\n"
            f"    {v6_out}\n"
            "  FROM _s8\n"
            f"  LEFT JOIN {prepared['lpm6_narrow_view']} n6 ON {narrow_on}\n"
            f"  LEFT JOIN {prepared['lpm6_wide_view']} w6 ON {wide_on}"
        )
        s9_from = "_s8v"

    # --- P6 AZ lookup (reference labeler.go:341-346, 360-366): a map
    # literal or two broadcast joins against the zone view (one row per
    # node name, so the joins never multiply fact rows) ---
    if zone_map is not None:
        zmap = zone_map_sql(zone_map)
        s11 = (
            "  SELECT *,\n"
            f"    coalesce(element_at({zmap}, local_pod_node_name), '') AS local_az,\n"
            f"    coalesce(element_at({zmap}, remote_pod_node_name), '') AS remote_az\n"
            "  FROM _s10"
        )
    else:
        zv = prepared["zone_view"]
        s11 = (
            "  SELECT /*+ BROADCAST(zl), BROADCAST(zr) */ _s10.*,\n"
            "    coalesce(zl._zz, '') AS local_az,\n"
            "    coalesce(zr._zz2, '') AS remote_az\n"
            "  FROM _s10\n"
            f"  LEFT JOIN (SELECT _zn, _zz FROM {zv}) zl"
            " ON _s10.local_pod_node_name = zl._zn\n"
            f"  LEFT JOIN (SELECT _zn AS _zn2, _zz AS _zz2 FROM {zv}) zr"
            " ON _s10.remote_pod_node_name = zr._zn2"
        )

    return f"""
WITH _s1 AS (
  SELECT *,
    {r_sql} AS _r,
    CAST(map_from_arrays(array(), array()) AS MAP<STRING,BOOLEAN>) AS _flags,
    {src_ip} AS src_ip, orig_src_port AS src_port,
    {dst_ip} AS dst_ip, reply_src_port AS dst_port{s1_nip}
  FROM {obs_view}
),
_s3 AS (
  SELECT /*+ BROADCAST(psrc), BROADCAST(pdst){s3_hints} */ _s1.*,
    psrc.src_pod_ambiguous,
    {', '.join(f'psrc.src_pod_{f}' for f in _POD_FIELDS)},
    pdst.dst_pod_ambiguous,
    {', '.join(f'pdst.dst_pod_{f}' for f in _POD_FIELDS)}{s3_nip}
  FROM _s1
  LEFT JOIN {pod_sub('src')} psrc ON _s1.src_ip = psrc._src_pod_ip
  LEFT JOIN {pod_sub('dst')} pdst ON _s1.dst_ip = pdst._dst_pod_ip{s3_joins}
),
_s4 AS (
  SELECT *, {flow_type_sql} AS flow_type FROM _s3
),
_s5 AS (
  SELECT node_name, ts, proto, flow_type,
    {r2_sql} AS _r,
    _flags,
    {', '.join(p4_select_exprs())}
  FROM _s4
),
_s6 AS (
  {s6}
),
_s7 AS (
  SELECT *, {private} AS _remote_private FROM {s7_from}
),
_s8 AS (
{s8}
),
_s9 AS (
  SELECT *, {cls_sql} AS connection_class FROM {s9_from}
),
_s10 AS (
  SELECT *,
    {r3_sql} AS _r2,
    {remote_cloud_sql} AS remote_cloud,
    {remote_region_sql} AS remote_region,
    coalesce(lpm_service, '') AS remote_service
  FROM _s9
),
_s11 AS (
{s11}
)
SELECT {', '.join(final_select_exprs(cfg, reject_col='_r2'))} FROM _s11
"""


def flows_agg_sql(source: str) -> str:
    """to_flow_rows + summing_aggregate over ``source`` (a view or CTE
    of ACCEPTED labeled rows) as SQL text — X1 direction fan-out, P7/A2
    minute bucketing, A1 SummingMergeTree fold (operators/flows.py)."""
    exclude = {
        "reject_reason",
        "flow_type",
        "bytes_out",
        "bytes_in",
        "packets_out",
        "packets_in",
        "ts",
    }
    # label output column order = final_select_exprs order
    labeled_cols = [
        e.split(" AS ")[-1].strip() if " AS " in e else e
        for e in final_select_exprs(RuntimeConfig())
    ]
    keep = [c for c in labeled_cols if c not in exclude]
    group_cols = [c for c in DIM_COLS if c != "connectionFlags"]
    sel = ", ".join(
        "any_value(connectionFlags) AS connectionFlags"
        if c == "connectionFlags"
        else c
        for c in DIM_COLS
    )
    return f"""
SELECT {sel}, sum(bytes) AS bytes, sum(packets) AS packets
FROM (
  SELECT to_date(ts) AS date,
         date_trunc('minute', ts) AS intervalStartTime,
         CAST(60 AS INT) AS intervalSeconds,
         {', '.join(keep)},
         _d.direction AS direction,
         coalesce(_d.bytes, 0) AS bytes,
         coalesce(_d.packets, 0) AS packets
  FROM {source}
  LATERAL VIEW explode(array(
    named_struct('direction', 'out', 'bytes', bytes_out, 'packets', packets_out),
    named_struct('direction', 'in', 'bytes', bytes_in, 'packets', packets_in))) _t AS _d
)
GROUP BY {_FLAGS_KEY_SQL}, {', '.join(group_cols)}
"""


def flow_batch_sql(
    cfg: RuntimeConfig,
    prepared: dict,
    obs_view: str,
    pod_view: str,
    banded_view: str,
    lpm_segments: list | None = None,
) -> str:
    """The FULL per-batch pipeline (labeler -> accepted -> fan-out ->
    summing aggregation) as one SQL text over ``obs_view``."""
    body = labeled_sql(
        cfg, prepared, obs_view, pod_view, banded_view, lpm_segments
    )
    return (
        "WITH _labeled AS (" + body + "),\n"
        "_accepted AS (SELECT * FROM _labeled WHERE reject_reason IS NULL)\n"
        + flows_agg_sql("_accepted")
    )


def dated_write_sql(flows: str) -> str:
    """``flows`` (:func:`flow_batch_sql` or :func:`flows_agg_sql` text)
    laid out for a plain ``partitionBy("date")`` write: each date's rows
    in one task (one file per date per write), sorted on ``(date,
    PRIMARY_KEY_PREFIX…)`` for row-group skipping. The sort leads with
    ``date`` because Spark's planned write requires that order: a sort on
    the key alone is replaced by a sort on ``date`` and never reaches the
    file. In the same text, one analysis covers the labeler and the
    layout; added as DataFrame operations they cost a second analysis of
    the whole plan (75-90 ms a steady stream trigger on 4 vCPUs)."""
    return (
        flows
        + f"DISTRIBUTE BY date SORT BY date, {', '.join(PRIMARY_KEY_PREFIX)}\n"
    )
