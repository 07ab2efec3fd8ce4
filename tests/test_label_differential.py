"""Differential property test for the labeler: random observations
through the DataFrame pipeline must match an INDEPENDENT sequential
Python implementation of the reference's LabelFlow semantics
(reference pkg/labeler/labeler.go:236-377 early-return order,
pkg/collector/collector.go:228-244 agent filters,
pkg/labeler/remote.go:131-175 remote classification).

The example-based suite (test_label.py) pins the reference's 11
conformance scenarios; this test explores the full cross-product of
endpoint kinds (pod / ambiguous pod / pending pod / node / localhost /
private non-pod / every cloud-prefix flavor / unmatched public),
protocols, zero counters, and v6 contamination that no hand-written
matrix covers.
"""

from __future__ import annotations

import ipaddress
from datetime import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kubenetmon_spark.operators.label import label_flows
from kubenetmon_spark.schema import OBSERVATION_SCHEMA
from tests.fixtures import CFG, nodes_df, pods_df, prefixes_df

T0 = datetime(2024, 3, 1, 12, 0, 30)

# endpoint pool: every interesting kind of address
IPS = [
    "10.0.0.1",     # pod-a on node-1 (app=frontend)
    "10.0.0.2",     # pod-b on node-1 (k8s_app fallback)
    "10.0.0.3",     # pod-c on node-2
    "10.0.0.9",     # ambiguous (two pods)
    "10.0.0.4",     # pending pod (node_name "")
    "10.0.0.77",    # private, no pod
    "172.20.0.1",   # service VIP range: private, no pod
    "192.168.0.2",  # node-2 internal IP -> node_flow
    "127.0.0.1",    # localhost
    "1.1.1.5",      # nested /24, aws us-east-1 -> INTER_REGION
    "1.1.0.7",      # /16, aws us-west-2 -> INTRA_REGION
    "2.2.2.9",      # anycast global -> INTRA_REGION
    "3.3.3.7",      # gcp -> PUBLIC_INTERNET
    "4.4.4.4",      # aws, empty region -> remote_label_error
    "5.5.5.5",      # s3-priority winner, us-west-2
    "8.8.8.8",      # unmatched public
]

# pods_df mirrored as plain data (pod_ip -> list of pod dicts)
PODS = {
    "10.0.0.1": [dict(name="pod-a", namespace="ns1", node_name="node-1",
                      label_app="frontend", label_k8s_app=None)],
    "10.0.0.2": [dict(name="pod-b", namespace="ns1", node_name="node-1",
                      label_app=None, label_k8s_app="backend")],
    "10.0.0.3": [dict(name="pod-c", namespace="ns2", node_name="node-2",
                      label_app="api", label_k8s_app=None)],
    "10.0.0.9": [dict(name="pod-d1", namespace="ns1", node_name="node-1",
                      label_app=None, label_k8s_app=None),
                 dict(name="pod-d2", namespace="ns2", node_name="node-2",
                      label_app=None, label_k8s_app=None)],
    "10.0.0.4": [dict(name="pod-e", namespace="ns1", node_name="",
                      label_app=None, label_k8s_app=None)],
}
NODE_IPS = {"192.168.0.1", "192.168.0.2", "192.168.0.3"}
ZONES = {"node-1": "zone-a", "node-2": "zone-b", "node-3": "zone-a"}


def _n(ip):
    return int(ipaddress.IPv4Address(ip))


def _is_private(ip):
    v = _n(ip)
    return (
        _n("10.0.0.0") <= v <= _n("10.255.255.255")
        or _n("172.16.0.0") <= v <= _n("172.31.255.255")
        or _n("192.168.0.0") <= v <= _n("192.168.255.255")
        or _n("127.0.0.0") <= v <= _n("127.255.255.255")
        or _n("169.254.0.0") <= v <= _n("169.254.255.255")
        or v == 0
    )


def _py_label(o, prefix_rows, ignore_udp=True):
    """Sequential reference: dict of observation fields -> expected
    labeler output fields (None reject_reason = accepted)."""
    out = {}

    def reject(reason):
        out.setdefault("reject_reason", reason)

    if (o["ob"] or 0) == 0 and (o["op"] or 0) == 0 and (o["rb"] or 0) == 0 and (o["rp"] or 0) == 0:
        reject("zero_counters")
    if o["proto"] not in (6, 17):
        reject("unsupported_proto")
    if "127.0.0.1" in (o["osrc"], o["odst"], o["rsrc"], o["rdst"]):
        reject("localhost")
    if ignore_udp and o["proto"] == 17:
        reject("udp_ignored")
    if o["v6"]:
        reject("ipv6")

    src_ip, dst_ip = o["osrc"], o["rsrc"]
    if o["osrc"] in NODE_IPS or o["rsrc"] in NODE_IPS:
        reject("node_flow")
    src_pods, dst_pods = PODS.get(src_ip, []), PODS.get(dst_ip, [])
    if len(src_pods) > 1 or len(dst_pods) > 1:
        reject("ambiguous_pod")
        out["ambiguous"] = True
        return out  # pod fields below are arbitrary for ambiguous IPs

    src_pod = src_pods[0] if src_pods else None
    dst_pod = dst_pods[0] if dst_pods else None
    src_on = src_pod is not None and src_pod["node_name"] == o["node"]
    dst_on = dst_pod is not None and dst_pod["node_name"] == o["node"]
    if src_on and dst_on:
        ft = "betweenPodsOnNode"
    elif src_on:
        ft = "fromPodOnNode"
    elif dst_on:
        ft = "toPodOnNode"
    else:
        ft = "unknown"
        reject("unknown_direction")
    out["flow_type"] = ft

    if ft == "toPodOnNode":
        local_ip, remote_ip = dst_ip, src_ip
        local_pod, remote_pod = dst_pod, src_pod
        bytes_out, bytes_in = o["rb"], o["ob"]
        packets_out, packets_in = o["rp"], o["op"]
    else:
        local_ip, remote_ip = src_ip, dst_ip
        local_pod, remote_pod = src_pod, dst_pod
        bytes_out, bytes_in = o["ob"], o["rb"]
        packets_out, packets_in = o["op"], o["rp"]

    # remote classification
    if _is_private(remote_ip):
        cls, rcloud, rregion, rservice = "INTRA_VPC", CFG.cloud, CFG.region, ""
    else:
        v = _n(remote_ip)
        hits = [p for p in prefix_rows if p["net_start"] <= v <= p["net_end"]]
        best = (
            max(hits, key=lambda p: (p["prefix_len"], -p["net_start"]))
            if hits
            else None
        )
        if best is None:
            cls, rcloud, rregion, rservice = "PUBLIC_INTERNET", "", "", ""
        else:
            rcloud, rregion, rservice = best["cloud"], best["region"], best["service"]
            if rcloud != CFG.cloud:
                cls = "PUBLIC_INTERNET"
            elif rregion == "global":
                cls, rregion = "INTRA_REGION", CFG.region
            elif rregion == CFG.region:
                cls = "INTRA_REGION"
            elif rregion == "":
                cls = "UNKNOWN"
                reject("remote_label_error")
            else:
                cls = "INTER_REGION"
    out["connectionClass"] = cls
    out["remoteCloud"] = rcloud
    out["remoteRegion"] = rregion
    out["remoteService"] = rservice

    def app(p):
        return (p and (p["label_app"] or p["label_k8s_app"])) or ""

    out["localIPv4"], out["remoteIPv4"] = local_ip, remote_ip
    out["bytes_out"], out["bytes_in"] = bytes_out, bytes_in
    out["packets_out"], out["packets_in"] = packets_out, packets_in
    out["localPod"] = (local_pod or {}).get("name", "") or ""
    out["remotePod"] = (remote_pod or {}).get("name", "") or ""
    out["localNamespace"] = (local_pod or {}).get("namespace", "") or ""
    out["localNode"] = (local_pod or {}).get("node_name", "") or ""
    out["localApp"] = app(local_pod)
    out["remoteApp"] = app(remote_pod)
    out["localAvailabilityZone"] = ZONES.get((local_pod or {}).get("node_name"), "")
    out["remoteAvailabilityZone"] = ZONES.get((remote_pod or {}).get("node_name"), "")
    out.setdefault("reject_reason", None)
    return out


_obs_strategy = st.tuples(
    st.sampled_from(["node-1", "node-2", "node-3"]),
    st.sampled_from([1, 6, 17]),
    st.integers(0, len(IPS) - 1),  # orig_src
    st.integers(0, len(IPS) - 1),  # reply_src
    st.integers(0, len(IPS) - 1),  # orig_dst (localhost check only)
    st.integers(0, len(IPS) - 1),  # reply_dst (localhost check only)
    st.sampled_from([(0, 0, 0, 0), (100, 10, 200, 20), (1, 1, 0, 0), (0, 0, 5, 2)]),
    st.booleans(),  # v6 contamination
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

CMP_ACCEPTED = [
    "flow_type", "connectionClass", "localIPv4", "remoteIPv4",
    "bytes_out", "bytes_in", "packets_out", "packets_in",
    "localPod", "remotePod", "localNamespace", "localNode",
    "localApp", "remoteApp", "remoteCloud", "remoteRegion",
    "remoteService", "localAvailabilityZone", "remoteAvailabilityZone",
]


@SLOW
@given(rows=st.lists(_obs_strategy, min_size=1, max_size=30))
def test_labeler_matches_sequential_reference(spark, rows):
    prefixes = prefixes_df(spark)
    prefix_rows = [r.asDict() for r in prefixes.collect()]

    data, expect = [], []
    for i, (node, proto, si, ri, oi, di, (ob, op, rb, rp), v6) in enumerate(rows):
        port = 1000 + i
        o = dict(node=node, proto=proto, osrc=IPS[si], rsrc=IPS[ri],
                 odst=IPS[oi], rdst=IPS[di], ob=ob, op=op, rb=rb, rp=rp,
                 v6=v6)
        expect.append(_py_label(o, prefix_rows))
        data.append((
            node, T0, proto,
            o["osrc"], "fe80::1" if v6 else None, port,
            o["odst"], None, 443,
            op, ob,
            o["rsrc"], None, port,
            o["rdst"], None, 443,
            rp, rb,
        ))
    obs = spark.createDataFrame(data, OBSERVATION_SCHEMA)
    got = {
        r.localPort - 1000: r
        for r in label_flows(
            obs, pods_df(spark), nodes_df(spark), prefixes, CFG
        ).collect()
    }
    assert len(got) == len(rows)
    for i, e in enumerate(expect):
        g = got[i]
        assert g.reject_reason == e["reject_reason"], (
            f"row {i}: reject {g.reject_reason!r} != {e['reject_reason']!r}"
        )
        if e["reject_reason"] is None:
            for c in CMP_ACCEPTED:
                assert getattr(g, c) == e[c], (
                    f"row {i} col {c}: {getattr(g, c)!r} != {e[c]!r}"
                )
