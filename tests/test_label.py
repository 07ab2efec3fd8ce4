"""Conformance tests for the labeler — the Spark analogue of the
reference's 11 LabelFlow scenarios (reference pkg/labeler/labeler_test.go)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.label import label_flows, split_rejected
from tests.fixtures import CFG, nodes_df, observations_df, pods_df, prefixes_df


@pytest.fixture(scope="module")
def labeled(spark):
    prefixes = prefixes_df(spark)
    out = label_flows(observations_df(spark), pods_df(spark), nodes_df(spark), prefixes, CFG)
    out.cache()
    return out


def _one(labeled, port):
    rows = labeled.filter(F.col("localPort") == port).collect()
    assert len(rows) == 1, f"expected 1 row for port {port}, got {len(rows)}"
    return rows[0]


def test_reject_reasons(labeled):
    rejects = {
        r.localPort: r.reject_reason
        for r in labeled.filter(F.col("reject_reason").isNotNull()).collect()
    }
    by_reason = labeled.filter(F.col("reject_reason").isNotNull()).groupBy("reject_reason").count()
    counts = {r.reject_reason: r["count"] for r in by_reason.collect()}
    assert counts == {
        "node_flow": 1,
        "zero_counters": 1,
        "localhost": 1,
        "udp_ignored": 1,
        "unsupported_proto": 1,
        "ipv6": 1,
        "unknown_direction": 1,
        "ambiguous_pod": 1,
        "remote_label_error": 1,
    }, counts
    assert rejects.get(5013) == "ambiguous_pod"
    assert rejects.get(5017) == "remote_label_error"


def test_accept_count(labeled):
    accepted, rejected = split_rejected(labeled)
    assert accepted.count() == 12  # scenarios 1,2,3a,3b,4,5,14,15,16,18a,18b,18c
    assert rejected.count() == 9


def test_egress_nat_inter_region(labeled):
    row = _one(labeled, 5001)
    assert row.reject_reason is None
    assert row.flow_type == "fromPodOnNode"
    assert row.connectionClass == "INTER_REGION"
    assert row.remoteCloud == "aws"
    assert row.remoteRegion == "us-east-1"
    assert row.remoteService == "s3"  # nested /24 won LPM over the /16
    assert row.remoteIPv4 == "1.1.1.5"
    assert row.localPod == "pod-a"
    assert row.localApp == "frontend"
    assert row.localInstanceID == "i-111"
    assert row.localAvailabilityZone == "zone-a"
    assert row.bytes_out == 1000 and row.bytes_in == 2000


def test_azure_shape_intra_region(labeled):
    row = _one(labeled, 5002)
    assert row.connectionClass == "INTRA_REGION"
    assert row.remoteRegion == "us-west-2"
    assert row.remoteService == "amazon"  # /16 match


def test_pod_to_pod_both_views(labeled):
    sender = labeled.filter((F.col("localPort") == 5003) & (F.col("flow_type") == "fromPodOnNode")).collect()
    assert len(sender) == 1
    s = sender[0]
    assert s.localPod == "pod-a" and s.remotePod == "pod-c"
    assert s.connectionClass == "INTRA_VPC"
    assert s.remoteAvailabilityZone == "zone-b"
    assert s.bytes_out == 1200 and s.bytes_in == 2200

    # receiver's view: local/remote swapped, counters re-oriented
    recv = labeled.filter((F.col("flow_type") == "toPodOnNode") & (F.col("remotePort") == 5003)).collect()
    assert len(recv) == 1
    t = recv[0]
    assert t.localPod == "pod-c" and t.remotePod == "pod-a"
    assert t.localPort == 8080 and t.remotePort == 5003
    assert t.bytes_out == 2200 and t.bytes_in == 1200  # reply counters are outbound for the receiver


def test_between_pods_on_node_and_app_fallback(labeled):
    row = _one(labeled, 5004)
    assert row.flow_type == "betweenPodsOnNode"
    assert row.localPod == "pod-a" and row.remotePod == "pod-b"
    assert row.remoteApp == "backend"  # label_k8s_app fallback (labeler.go:350-351)
    assert row.connectionClass == "INTRA_VPC"


def test_service_vip_resolves_to_backend(labeled):
    row = _one(labeled, 5005)
    assert row.remoteIPv4 == "10.0.0.3"  # reply_src, not the VIP
    assert row.remotePod == "pod-c"
    assert row.connectionClass == "INTRA_VPC"


def test_global_anycast(labeled):
    row = _one(labeled, 5014)
    assert row.connectionClass == "INTRA_REGION"
    assert row.remoteRegion == "us-west-2"  # anycast assumption -> local region


def test_other_cloud_public_internet(labeled):
    row = _one(labeled, 5015)
    assert row.connectionClass == "PUBLIC_INTERNET"
    assert row.remoteCloud == "gcp"


def test_unlisted_public_internet(labeled):
    row = _one(labeled, 5016)
    assert row.connectionClass == "PUBLIC_INTERNET"
    assert row.remoteCloud == "" and row.remoteRegion == ""


def test_constants(labeled):
    row = _one(labeled, 5001)
    assert row.remoteCluster == "UNKNOWN"
    assert row.localCell == "" and row.remoteCell == ""
    assert row.environment == "development"
    assert row.cluster == "cluster"
    assert row.localCloud == "aws" and row.localRegion == "us-west-2"
    assert row.proto == "TCP"


def test_prefix_fixture_rows(spark):
    # the dimension the removed raw-row fold (dims.build_cloud_prefixes)
    # produced from the same cases; the feed fold must give it unchanged
    assert sorted(tuple(r) for r in prefixes_df(spark).collect()) == [
        ("1.1.0.0/16", 16842752, 16908287, 16, "aws", "amazon", "us-west-2"),
        ("1.1.1.0/24", 16843008, 16843263, 24, "aws", "s3", "us-east-1"),
        ("2.2.2.0/24", 33686016, 33686271, 24, "aws", "cloudfront", "global"),
        ("3.3.3.0/24", 50529024, 50529279, 24, "gcp", "googleservice", "us-central1"),
        ("4.4.4.0/24", 67372032, 67372287, 24, "aws", "weird", ""),
        ("5.5.5.0/24", 84215040, 84215295, 24, "aws", "s3", "us-west-2"),
        ("6.6.6.0/24", 101058048, 101058303, 24, "azure", "azurestorage", "eastus"),
    ]


def test_prefix_priority_dedup(spark):
    dim = prefixes_df(spark)
    aws555 = dim.filter(F.col("prefix") == "5.5.5.0/24").collect()
    assert len(aws555) == 1 and aws555[0].service == "s3"
    az = dim.filter(F.col("cloud") == "azure").collect()
    assert len(az) == 1
    assert az[0].service == "azurestorage" and az[0].region == "eastus"


class TestIPv6Mode:
    """cfg.ignore_ipv6=False — the v6 metering extension. The mixed-
    family end-to-end classification is hash-gated (q319); these pin
    the per-row behaviors the gate's aggregation could mask."""

    @pytest.fixture(scope="class")
    def labeled6(self, spark):
        from dataclasses import replace

        from kubenetmon_spark.operators.lpm import prefixes6_from_cidrs
        from tests.fixtures import _obs, T0

        cfg = replace(CFG, ignore_ipv6=False)
        prefixes = prefixes_df(spark)
        prefixes6 = prefixes6_from_cidrs(
            spark,
            [
                ("2600:1f14::/32", "aws", "ec2", "us-west-2"),
                ("2600::/16", "aws", "amazon", "us-east-1"),
                ("2a00:1450::/32", "gcp", "google", "europe-west1"),
            ],
        )

        def obs6(node, port, remote6, **kw):
            # v6 endpoints ride the v6 columns; v4 columns stay null
            row = list(
                _obs(node, T0, 6, None, port, None, 443, None, 443, None, port, **kw)
            )
            row[3 + 1] = "fd00::0:1"          # orig_src_v6 (pod)
            row[11 + 1] = remote6             # reply_src_v6 slot
            # row layout: node, ts, proto, osrc, osv6, osport, odst,
            # odv6, odport, op, ob, rsrc, rsv6, rsport, rdst, rdv6, ...
            return tuple(row)

        schema = observations_df(spark).schema
        rows = [
            # 61: public v6 in the nested /32 (aws us-west-2) -> INTRA_REGION
            obs6("node-1", 6001, "2600:1f14:aa::1"),
            # 62: v6 in the /16 but not /32 (us-east-1) -> INTER_REGION
            obs6("node-1", 6002, "2600:beef::1"),
            # 63: other-cloud v6 -> PUBLIC_INTERNET
            obs6("node-1", 6003, "2a00:1450:4001::5"),
            # 64: unlisted public v6 -> PUBLIC_INTERNET
            obs6("node-1", 6004, "2001:db8::1"),
            # 65: ULA remote -> private short-circuit, INTRA_VPC
            obs6("node-1", 6005, "fd12:3456::9"),
            # 66: link-local remote -> INTRA_VPC
            obs6("node-1", 6006, "fe80::1"),
            # 67: zone id -> out of parse contract -> per-row reject
            obs6("node-1", 6007, "fe80::1%eth0"),
        ]
        pods6 = spark.createDataFrame(
            [("fd00::0:1", "pod-v6", "ns6", "node-1", "app6", None, "i-6")],
            "pod_ip string, name string, namespace string, node_name string,"
            " label_app string, label_k8s_app string,"
            " label_control_plane_id string",
        )
        out = label_flows(
            spark.createDataFrame(rows, schema),
            pods_df(spark).unionByName(pods6),
            nodes_df(spark),
            prefixes,
            cfg,
            prefixes6=prefixes6,
        )
        out.cache()
        return out

    def test_v6_classification_matrix(self, labeled6):
        got = {
            r.localPort: (r.connectionClass, r.remoteCloud, r.remoteRegion)
            for r in labeled6.filter(F.col("reject_reason").isNull()).collect()
        }
        assert got == {
            6001: ("INTRA_REGION", "aws", "us-west-2"),
            6002: ("INTER_REGION", "aws", "us-east-1"),
            6003: ("PUBLIC_INTERNET", "gcp", "europe-west1"),
            6004: ("PUBLIC_INTERNET", "", ""),
            6005: ("INTRA_VPC", "aws", "us-west-2"),
            6006: ("INTRA_VPC", "aws", "us-west-2"),
        }, got

    def test_v6_parse_error_rejects_per_row(self, labeled6):
        rejects = {
            r.localPort: r.reject_reason
            for r in labeled6.filter(F.col("reject_reason").isNotNull()).collect()
        }
        assert rejects == {6007: "ipv6_parse_error"}, rejects

    def test_v6_pod_labels_and_address_passthrough(self, labeled6):
        row = labeled6.filter(F.col("localPort") == 6001).collect()[0]
        assert row.localPod == "pod-v6" and row.localNamespace == "ns6"
        assert row.localIPv4 == "fd00::0:1"  # v6 string in the stable column
        assert row.remoteIPv4 == "2600:1f14:aa::1"
        assert row.flow_type == "fromPodOnNode"

    def test_reference_parity_mode_still_rejects_v6(self, labeled):
        # default cfg: the F5 reject is untouched
        assert (
            labeled.filter(F.col("reject_reason") == "ipv6").count() == 1
        )


def test_ipv6_string_to_pair_differential(spark):
    # differential vs Python's ipaddress over the parse contract
    import ipaddress

    from kubenetmon_spark.functions.ip import ipv6_string_to_pair

    cases = [
        "2001:db8::1", "::1", "::", "fe80::a:b:c:d",
        "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
        "2001:0db8:0000:0000:0000:0000:0000:0001", "1:2:3:4:5:6:7:8",
        "2600:1f14:aa::1", "ABCD::EF",
        # out-of-contract -> null pair by design
        "bad::zz", "1.2.3.4", "::ffff:1.2.3.4", "1:2:3", "2001:db8::1%x",
        "1:2:3:4:5:6:7:8:9", "1::2::3",
        "1:2:3:4:5:6:7::8",  # '::' standing for ZERO groups: RFC-invalid
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    hi, lo = ipv6_string_to_pair("s")
    got = {r.s: (r.hi, r.lo) for r in df.select("s", hi.alias("hi"), lo.alias("lo")).collect()}

    def want(s):
        if "%" in s or "." in s:
            return (None, None)  # contract: zone ids / dotted tails -> null
        try:
            v = int(ipaddress.IPv6Address(s))
        except Exception:
            return (None, None)
        h, l = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
        return (
            h - 2**64 if h >= 2**63 else h,
            l - 2**64 if l >= 2**63 else l,
        )

    for s in cases:
        assert got[s] == want(s), (s, got[s], want(s))


def test_duplicate_node_names_never_multiply_facts(spark):
    # Regression: the AZ lookup joined on node name without dedup — a
    # stale dim snapshot with duplicate names silently multiplied fact
    # rows (corrupting every downstream sum). One row per name is now
    # enforced (min zone, deterministic).
    prefixes = prefixes_df(spark)
    obs, pods, nodes = observations_df(spark), pods_df(spark), nodes_df(spark)
    dup_nodes = nodes.unionByName(nodes)  # every name twice
    n_clean = label_flows(obs, pods, nodes, prefixes, CFG).count()
    n_dup = label_flows(obs, pods, dup_nodes, prefixes, CFG).count()
    assert n_dup == n_clean
