"""Dimension builders.

The reference maintains three informer caches (pods/nodes/services,
reference pkg/watcher/watcher.go:52-120) and a cloud IP-range prefix map
built from the four public cloud feeds with priority-based dedup
(reference pkg/labeler/public_ranges.go:145-309). Here dimensions are
plain DataFrames; the informer's index-by-IP becomes a broadcast join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kubenetmon_spark.functions.ip import ip_to_long


def normalize_feed_strings(df: DataFrame, cols: list[str]) -> DataFrame:
    """Lowercase + strip spaces, like the reference normalizes cloud feed
    fields (reference pkg/labeler/public_ranges.go:151-155, 363-365)."""
    for c in cols:
        df = df.withColumn(c, F.lower(F.regexp_replace(F.coalesce(F.col(c), F.lit("")), " ", "")))
    return df


def build_cloud_prefixes(raw: DataFrame) -> DataFrame:
    """Raw feed rows (prefix CIDR, cloud, service, region) -> deduped
    prefix dimension with numeric ranges for the LPM join.

    Dedup priority per the reference:
    - AWS: service priority s3 > amazon > ec2 when the same prefix appears
      under several services (reference pkg/labeler/public_ranges.go:163-168,
      190-210; tested public_ranges_test.go:244-273).
    - Azure: a row with a non-empty SystemService beats an empty one, and a
      regional row beats a 'global' one (reference public_ranges.go:283-304).

    Expressed as a row_number() window over a priority expression at
    dim-build time (SURVEY.md §4.2) — runs once a day on ~43k rows
    (reference README.md:127), cost is irrelevant.
    """
    raw = normalize_feed_strings(raw, ["cloud", "service", "region"])
    parts = F.split(F.col("prefix"), "/")
    df = (
        raw.withColumn("prefix_len", parts.getItem(1).cast("int"))
        .withColumn("net_start", ip_to_long("split(prefix, '/')[0]"))
        .withColumn(
            "net_end",
            F.col("net_start")
            + F.pow(F.lit(2.0), 32 - F.col("prefix_len")).cast("long")
            - F.lit(1),
        )
    )
    # reference priority map: s3(-1) < other(0) < amazon(1) < ec2(2) —
    # services outside the map default to 0, i.e. they BEAT amazon/ec2
    # (reference public_ranges.go:163-168).
    aws_priority = (
        F.when(F.col("service") == "s3", -1)
        .when(F.col("service") == "amazon", 1)
        .when(F.col("service") == "ec2", 2)
        .otherwise(0)
    )
    azure_priority = (
        F.when(F.col("service") == "", 1).otherwise(0)
        + F.when(F.col("region") == "global", 1).otherwise(0)
    )
    df = df.withColumn(
        "_prio",
        F.when(F.col("cloud") == "aws", aws_priority)
        .when(F.col("cloud") == "azure", azure_priority)
        .otherwise(F.lit(0)),
    )
    w = Window.partitionBy("cloud", "prefix").orderBy(
        F.col("_prio").asc(), F.col("service").asc(), F.col("region").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("prefix", "net_start", "net_end", "prefix_len", "cloud", "service", "region")
    )


def services_with_ambiguity(services: DataFrame) -> DataFrame:
    """Service-by-clusterIP lookup dim (SURVEY.md §2 J4).

    The reference maintains this informer index (`GetServiceByClusterIP`,
    reference pkg/watcher/watcher.go:189-208) but the labeler never calls
    it — implemented for surface parity. Same multi-match guard as pods:
    the reference errors when >1 service shares a clusterIP.
    """
    return services.groupBy("cluster_ip").agg(
        (F.count(F.lit(1)) > 1).alias("ambiguous"),
        F.min_by(F.struct("name", "namespace"), F.col("name")).alias("service"),
    )


def pods_with_ambiguity(pods: DataFrame) -> DataFrame:
    """Collapse the pod dimension to one row per IP with an ``ambiguous``
    flag when >1 pod shares the IP.

    The reference errors out on multi-match lookups
    (reference pkg/labeler/labeler.go:449-469, pkg/watcher/watcher.go:123-143);
    a naive Spark join would instead silently duplicate fact rows. The
    pre-aggregation preserves the reference's semantics: ambiguous IPs are
    flagged and the labeler rejects those rows.
    """
    return pods.groupBy("pod_ip").agg(
        (F.count(F.lit(1)) > 1).alias("ambiguous"),
        F.min_by(
            F.struct(
                "name", "namespace", "node_name", "label_app", "label_k8s_app", "label_control_plane_id"
            ),
            F.col("name"),
        ).alias("pod"),
    )
