"""Dimension builders.

The reference maintains informer caches for pods and nodes (reference
pkg/watcher/watcher.go:52-120). Here dimensions are plain DataFrames;
the informer's index-by-IP becomes a broadcast join key. The cloud
IP-range prefix dimension is built from the public feeds by
``sources.feeds.build_prefixes_from_feeds``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
