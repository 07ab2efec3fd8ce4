"""Deterministic fixtures replicating the reference's conformance matrix
(FIXTURES.md; reference pkg/labeler/labeler_test.go scenarios)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession

from kubenetmon_spark.config import RuntimeConfig
from kubenetmon_spark.schema import NODES_SCHEMA, OBSERVATION_SCHEMA, PODS_SCHEMA
from kubenetmon_spark.sources.feeds import (
    AWS_FEED_SCHEMA,
    AZURE_FEED_SCHEMA,
    GCP_FEED_SCHEMA,
    GOOGLE_FEED_SCHEMA,
    build_prefixes_from_feeds,
)

CFG = RuntimeConfig(environment="development", cloud="aws", region="us-west-2", cluster="cluster")

T0 = datetime(2024, 3, 1, 12, 0, 30)   # minute bucket 12:00
T1 = datetime(2024, 3, 1, 12, 0, 45)   # same bucket as T0
T2 = datetime(2024, 3, 1, 12, 1, 10)   # next bucket


def nodes_df(spark: SparkSession):
    rows = [
        ("node-1", "192.168.0.1", "zone-a"),
        ("node-2", "192.168.0.2", "zone-b"),
        ("node-3", "192.168.0.3", "zone-a"),
    ]
    return spark.createDataFrame(rows, NODES_SCHEMA)


def pods_df(spark: SparkSession):
    rows = [
        # pod_ip, name, namespace, node_name, label_app, label_k8s_app, cpid
        ("10.0.0.1", "pod-a", "ns1", "node-1", "frontend", None, "i-111"),
        ("10.0.0.2", "pod-b", "ns1", "node-1", None, "backend", None),
        ("10.0.0.3", "pod-c", "ns2", "node-2", "api", None, "i-333"),
        ("10.0.0.9", "pod-d1", "ns1", "node-1", None, None, None),  # ambiguous IP
        ("10.0.0.9", "pod-d2", "ns2", "node-2", None, None, None),  # ambiguous IP
        ("10.0.0.4", "pod-e", "ns1", "", None, None, None),  # pending pod
    ]
    return spark.createDataFrame(rows, PODS_SCHEMA)


def prefixes_df(spark: SparkSession):
    """The cloud prefix dimension, built by the engine's feed fold
    (``build_prefixes_from_feeds``) from feed-shaped rows, incl. the
    priority-dedup cases (reference pkg/labeler/public_ranges_test.go:244-273)."""
    aws = [
        # ip_prefix, region, service, network_border_group
        ("1.1.0.0/16", "us-west-2", "AMAZON", None),
        ("1.1.1.0/24", "us-east-1", "S3", None),       # nested: LPM must pick /24
        ("2.2.2.0/24", "GLOBAL", "CLOUDFRONT", None),  # anycast
        ("4.4.4.0/24", "", "WEIRD", None),             # empty-region error case
        # AWS service-priority dedup: same prefix under ec2/s3/amazon -> s3
        ("5.5.5.0/24", "us-west-2", "EC2", None),
        ("5.5.5.0/24", "us-west-2", "S3", None),
        ("5.5.5.0/24", "us-west-2", "AMAZON", None),
    ]
    gcp = [("3.3.3.0/24", None, "googleservice", "us-central1")]
    azure = [
        # Azure specificity dedup: named+regional beats empty+global
        ("AzureCloud", None, {"region": "", "systemService": "", "addressPrefixes": ["6.6.6.0/24"]}),
        ("Storage.EastUS", None, {"region": "East US", "systemService": "AzureStorage",
                                  "addressPrefixes": ["6.6.6.0/24"]}),
    ]
    return build_prefixes_from_feeds(
        spark.createDataFrame([(None, None, aws)], AWS_FEED_SCHEMA),
        spark.createDataFrame([(None, None, gcp)], GCP_FEED_SCHEMA),
        spark.createDataFrame([(None, None, [])], GOOGLE_FEED_SCHEMA),
        spark.createDataFrame([(None, None, azure)], AZURE_FEED_SCHEMA),
    )


def _obs(node, ts, proto, osrc, osport, odst, odport, rsrc, rsport, rdst, rdport,
         ob=100, op=10, rb=200, rp=20, v6=None):
    return (
        node, ts, proto,
        osrc, v6, osport, odst, None, odport, op, ob,
        rsrc, None, rsport, rdst, None, rdport, rp, rb,
    )


def observations_df(spark: SparkSession):
    """One row per conformance scenario; localPort encodes the scenario id
    so tests can address rows individually."""
    rows = [
        # 1. AWS/GCP egress NAT: reply returns to the NODE ip; remote 1.1.1.5
        #    is inside the nested /24 (other region) -> INTER_REGION.
        _obs("node-1", T0, 6, "10.0.0.1", 5001, "1.1.1.5", 443, "1.1.1.5", 443, "192.168.0.1", 5001,
             ob=1000, op=10, rb=2000, rp=20),
        # 2. Azure-style egress: reply returns to the POD ip; remote in the
        #    /16 (same region) -> INTRA_REGION.
        _obs("node-1", T0, 6, "10.0.0.1", 5002, "1.1.0.7", 443, "1.1.0.7", 443, "10.0.0.1", 5002,
             ob=1100, op=11, rb=2100, rp=21),
        # 3a. pod->pod cross-node seen by the SENDER node -> fromPodOnNode.
        _obs("node-1", T0, 6, "10.0.0.1", 5003, "10.0.0.3", 8080, "10.0.0.3", 8080, "10.0.0.1", 5003,
             ob=1200, op=12, rb=2200, rp=22),
        # 3b. same flow seen by the RECEIVER node -> toPodOnNode.
        _obs("node-2", T0, 6, "10.0.0.1", 5003, "10.0.0.3", 8080, "10.0.0.3", 8080, "10.0.0.1", 5003,
             ob=1200, op=12, rb=2200, rp=22),
        # 4. pod->pod same node -> betweenPodsOnNode (app fallback label on pod-b).
        _obs("node-1", T0, 6, "10.0.0.1", 5004, "10.0.0.2", 9090, "10.0.0.2", 9090, "10.0.0.1", 5004,
             ob=1300, op=13, rb=2300, rp=23),
        # 5. service VIP: orig dst is the VIP, reply src is the backend pod.
        _obs("node-1", T0, 6, "10.0.0.1", 5005, "172.20.0.1", 80, "10.0.0.3", 80, "10.0.0.1", 5005,
             ob=1400, op=14, rb=2400, rp=24),
        # 6. node flow (orig src is a node internal IP) -> reject.
        _obs("node-1", T0, 6, "192.168.0.2", 5006, "10.0.0.1", 443, "10.0.0.1", 443, "192.168.0.2", 5006),
        # 7. zero counters -> reject.
        _obs("node-1", T0, 6, "10.0.0.1", 5007, "1.1.1.5", 443, "1.1.1.5", 443, "10.0.0.1", 5007,
             ob=0, op=0, rb=0, rp=0),
        # 8. localhost -> reject.
        _obs("node-1", T0, 6, "127.0.0.1", 5008, "10.0.0.1", 443, "10.0.0.1", 443, "127.0.0.1", 5008),
        # 9. UDP with ignore_udp=true -> reject.
        _obs("node-1", T0, 17, "10.0.0.1", 5009, "1.1.1.5", 53, "1.1.1.5", 53, "10.0.0.1", 5009),
        # 10. ICMP -> reject unsupported_proto.
        _obs("node-1", T0, 1, "10.0.0.1", 5010, "1.1.1.5", 0, "1.1.1.5", 0, "10.0.0.1", 5010),
        # 11. IPv6 -> reject.
        _obs("node-1", T0, 6, "10.0.0.1", 5011, "1.1.1.5", 443, "1.1.1.5", 443, "10.0.0.1", 5011,
             v6="fe80::dead:beef:70:1"),
        # 12. both ends unknown -> unknown_direction.
        _obs("node-1", T0, 6, "8.8.8.8", 5012, "9.9.9.9", 443, "9.9.9.9", 443, "8.8.8.8", 5012),
        # 13. ambiguous pod IP -> reject.
        _obs("node-1", T0, 6, "10.0.0.9", 5013, "1.1.1.5", 443, "1.1.1.5", 443, "10.0.0.9", 5013),
        # 14. global/anycast prefix -> INTRA_REGION with local region.
        _obs("node-1", T0, 6, "10.0.0.1", 5014, "2.2.2.9", 443, "2.2.2.9", 443, "10.0.0.1", 5014),
        # 15. other-cloud prefix -> PUBLIC_INTERNET (gcp recorded).
        _obs("node-1", T0, 6, "10.0.0.1", 5015, "3.3.3.9", 443, "3.3.3.9", 443, "10.0.0.1", 5015),
        # 16. unlisted public IP -> PUBLIC_INTERNET, empty cloud.
        _obs("node-1", T0, 6, "10.0.0.1", 5016, "9.9.9.9", 443, "9.9.9.9", 443, "10.0.0.1", 5016),
        # 17. same-cloud empty-region prefix -> remote_label_error reject.
        _obs("node-1", T0, 6, "10.0.0.1", 5017, "4.4.4.9", 443, "4.4.4.9", 443, "10.0.0.1", 5017),
        # 18a/18b. summing: two observations, same key, same minute.
        _obs("node-1", T0, 6, "10.0.0.1", 5018, "1.1.0.7", 443, "1.1.0.7", 443, "10.0.0.1", 5018,
             ob=10, op=1, rb=20, rp=2),
        _obs("node-1", T1, 6, "10.0.0.1", 5018, "1.1.0.7", 443, "1.1.0.7", 443, "10.0.0.1", 5018,
             ob=30, op=3, rb=40, rp=4),
        # 18c. same key, NEXT minute -> separate bucket.
        _obs("node-1", T2, 6, "10.0.0.1", 5018, "1.1.0.7", 443, "1.1.0.7", 443, "10.0.0.1", 5018,
             ob=500, op=5, rb=600, rp=6),
    ]
    return spark.createDataFrame(rows, OBSERVATION_SCHEMA)


def unsorted_files(root, key: list[str]) -> list[str]:
    """The data files under ``root``'s ``date=`` dirs whose rows are not
    ordered on ``key`` (Spark's ascending order, nulls first)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    def rank(row):
        return tuple((0, "") if v is None else (1, v) for v in row)

    bad = []
    for f in sorted(Path(root).glob("date=*/*.parquet")):
        cols = pq.read_table(f, columns=key).to_pydict()
        rows = [rank(r) for r in zip(*(cols[c] for c in key))]
        if rows != sorted(rows):
            bad.append(str(f))
    return bad
