"""Cloud IP-range feed sources (SURVEY.md §2 S3).

The reference downloads four public JSON feeds — AWS ip-ranges.json, GCP
cloud.json, Google goog.json, Azure ServiceTags — and folds them into one
prefix -> (cloud, service, region) map with priority rules on duplicate
prefixes (reference pkg/labeler/public_ranges.go:81-143 feed structs,
160-309 merge; pkg/labeler/remote.go:188-210 fetch). Here each feed is a
DataFrame with an explicit schema (spark.read.json with schema — never
inferred), and the fold becomes window-ranked dedup at dim-build time.

Reference dedup semantics reproduced exactly (public_ranges_test.go:19-273
is the conformance suite, mirrored in tests/test_feeds.py):

- AWS: same prefix under several services -> keep by priority
  s3(-1) < other(0) < amazon(1) < ec2(2), lower wins; ties -> last row
  (the Go fold overwrites on ``<=``) (public_ranges.go:160-210).
- GCP cloud.json: service + scope (region); rows without an ipv4Prefix
  are skipped; later rows overwrite (public_ranges.go:213-233).
- Google goog.json: bare prefixes -> service='googleservice',
  region='global', cloud='gcp' (public_ranges.go:236-255).
- Azure: region '' -> 'global'; empty SystemService falls back to
  'azurecloud' if the group name mentions it else 'azureservice';
  duplicate prefixes -> azurestorage beats any service, a non-empty
  SystemService beats an empty one, a regional row beats a global row of
  the same service, otherwise last wins (public_ranges.go:257-305).
- All cloud/service/region strings lowercased, spaces stripped
  (public_ranges.go:363-365).
- Invalid prefixes fail the whole build, like the reference's refresh
  error (public_ranges.go:177-179).

Cross-cloud collisions (the same prefix advertised by two clouds) resolve
by feed order — aws < gcp < google < azure, last wins — matching the Go
map-insertion order for unconditional inserts. The reference's Azure
conditional *can* keep an earlier cloud's row in exotic cases; real feeds
never collide across clouds, so this simplification is documented rather
than reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from kubenetmon_spark.functions.ip import ip_to_long

AWS_FEED_SCHEMA = StructType(
    [
        StructField("syncToken", StringType(), True),
        StructField("createDate", StringType(), True),
        StructField(
            "prefixes",
            ArrayType(
                StructType(
                    [
                        StructField("ip_prefix", StringType(), True),
                        StructField("region", StringType(), True),
                        StructField("service", StringType(), True),
                        StructField("network_border_group", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

GCP_FEED_SCHEMA = StructType(
    [
        StructField("syncToken", StringType(), True),
        StructField("creationTime", StringType(), True),
        StructField(
            "prefixes",
            ArrayType(
                StructType(
                    [
                        StructField("ipv4Prefix", StringType(), True),
                        StructField("ipv6Prefix", StringType(), True),
                        StructField("service", StringType(), True),
                        StructField("scope", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

GOOGLE_FEED_SCHEMA = StructType(
    [
        StructField("syncToken", StringType(), True),
        StructField("creationTime", StringType(), True),
        StructField(
            "prefixes",
            ArrayType(
                StructType(
                    [
                        StructField("ipv4Prefix", StringType(), True),
                        StructField("ipv6Prefix", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

AZURE_FEED_SCHEMA = StructType(
    [
        StructField("changeNumber", IntegerType(), True),
        StructField("cloud", StringType(), True),
        StructField(
            "values",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), True),
                        StructField("id", StringType(), True),
                        StructField(
                            "properties",
                            StructType(
                                [
                                    StructField("changeNumber", IntegerType(), True),
                                    StructField("region", StringType(), True),
                                    StructField("regionId", IntegerType(), True),
                                    StructField("platform", StringType(), True),
                                    StructField("systemService", StringType(), True),
                                    StructField("addressPrefixes", ArrayType(StringType()), True),
                                    StructField("networkFeatures", ArrayType(StringType()), True),
                                ]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)

_FEED_SCHEMAS = {
    "aws": AWS_FEED_SCHEMA,
    "gcp": GCP_FEED_SCHEMA,
    "google": GOOGLE_FEED_SCHEMA,
    "azure": AZURE_FEED_SCHEMA,
}

#: columns every parser emits; _pos preserves feed row order for the
#: last-wins tie-breaks of the reference's fold.
_RAW_COLS = ["prefix", "cloud", "service", "region", "_pos", "_svc_empty"]


def read_feed_json(spark: SparkSession, path: str, feed: str) -> DataFrame:
    """Read a feed file with its explicit schema (multiline JSON doc)."""
    return spark.read.schema(_FEED_SCHEMAS[feed]).option("multiLine", True).json(path)


def _norm(col):
    return F.lower(F.regexp_replace(F.coalesce(col, F.lit("")), " ", ""))


_IPV4_CIDR = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}/\d{1,2}$"


def parse_aws_feed(aws: DataFrame) -> DataFrame:
    p = aws.select(F.posexplode("prefixes").alias("_pos", "p"))
    return p.select(
        F.col("p.ip_prefix").alias("prefix"),
        F.lit("aws").alias("cloud"),
        _norm(F.col("p.service")).alias("service"),
        _norm(F.col("p.region")).alias("region"),
        F.col("_pos"),
        F.lit(False).alias("_svc_empty"),
    )


def parse_gcp_feed(gcp: DataFrame) -> DataFrame:
    p = gcp.select(F.posexplode("prefixes").alias("_pos", "p"))
    return p.filter(F.col("p.ipv4Prefix").isNotNull()).select(
        F.col("p.ipv4Prefix").alias("prefix"),
        F.lit("gcp").alias("cloud"),
        _norm(F.col("p.service")).alias("service"),
        _norm(F.col("p.scope")).alias("region"),
        F.col("_pos"),
        F.lit(False).alias("_svc_empty"),
    )


def parse_google_feed(google: DataFrame) -> DataFrame:
    p = google.select(F.posexplode("prefixes").alias("_pos", "p"))
    return p.filter(F.col("p.ipv4Prefix").isNotNull()).select(
        F.col("p.ipv4Prefix").alias("prefix"),
        F.lit("gcp").alias("cloud"),
        F.lit("googleservice").alias("service"),
        F.lit("global").alias("region"),
        F.col("_pos"),
        F.lit(False).alias("_svc_empty"),
    )


def parse_azure_feed(azure: DataFrame) -> DataFrame:
    g = azure.select(F.posexplode("values").alias("_gpos", "g"))
    g = g.select(
        "_gpos",
        F.col("g.name").alias("name"),
        F.col("g.properties.region").alias("raw_region"),
        F.col("g.properties.systemService").alias("raw_service"),
        F.posexplode("g.properties.addressPrefixes").alias("_ppos", "prefix"),
    )
    svc_empty = F.coalesce(F.col("raw_service"), F.lit("")) == ""
    service = (
        F.when(~svc_empty, F.col("raw_service"))
        .when(F.contains(F.lower("name"), F.lit("azurecloud")), F.lit("azurecloud"))
        .otherwise(F.lit("azureservice"))
    )
    region = F.when(
        F.coalesce(F.col("raw_region"), F.lit("")) == "", F.lit("global")
    ).otherwise(F.col("raw_region"))
    return (
        g.filter(F.col("prefix").contains(".") & ~F.col("prefix").contains(":"))  # IPv4 only
        .select(
            F.col("prefix"),
            F.lit("azure").alias("cloud"),
            _norm(service).alias("service"),
            _norm(region).alias("region"),
            (F.col("_gpos") * 100000 + F.col("_ppos")).alias("_pos"),
            svc_empty.alias("_svc_empty"),
        )
    )


def build_prefixes_from_feeds(
    aws: DataFrame, gcp: DataFrame, google: DataFrame, azure: DataFrame
) -> DataFrame:
    """Four parsed feeds -> the CLOUD_PREFIXES_SCHEMA dimension, dedup
    rules as in the module docstring. Raises on malformed prefixes."""
    raw = (
        parse_aws_feed(aws).withColumn("_feed", F.lit(0))
        .unionByName(parse_gcp_feed(gcp).withColumn("_feed", F.lit(1)))
        .unionByName(parse_google_feed(google).withColumn("_feed", F.lit(2)))
        .unionByName(parse_azure_feed(azure).withColumn("_feed", F.lit(3)))
    )
    bad = raw.filter(~F.col("prefix").rlike(_IPV4_CIDR)).select("prefix").limit(1).collect()
    if bad:
        raise ValueError(f"invalid IPv4 prefix in feed: {bad[0].prefix!r}")

    # within-cloud priority (lower rank wins)
    aws_prio = (
        F.when(F.col("service") == "s3", -1)
        .when(F.col("service") == "amazon", 1)
        .when(F.col("service") == "ec2", 2)
        .otherwise(0)
    )
    # lexicographic (service class, global-ness): azurestorage > non-empty
    # SystemService > empty; within a class a regional row beats 'global'
    azure_prio = (
        F.when(F.col("service") == "azurestorage", 0)
        .when(~F.col("_svc_empty"), 1)
        .otherwise(2)
    ) * 10 + F.when(F.col("region") != "global", 0).otherwise(1)
    prio = (
        F.when(F.col("cloud") == "aws", aws_prio)
        .when(F.col("_feed") == 3, azure_prio)
        .otherwise(F.lit(0))
    )
    # one winner per (feed, prefix): priority asc, then LAST row (the Go
    # fold overwrites on ties); then one winner per prefix: last FEED wins.
    w_in = Window.partitionBy("_feed", "prefix").orderBy(
        prio.asc(), F.col("_pos").desc()
    )
    w_cross = Window.partitionBy("prefix").orderBy(F.col("_feed").desc())
    parts = F.split(F.col("prefix"), "/")
    return (
        raw.withColumn("_rn", F.row_number().over(w_in))
        .filter(F.col("_rn") == 1)
        .withColumn("_rn2", F.row_number().over(w_cross))
        .filter(F.col("_rn2") == 1)
        .withColumn("prefix_len", parts.getItem(1).cast("int"))
        .withColumn("net_start", ip_to_long("split(prefix, '/')[0]"))
        .withColumn(
            "net_end",
            F.col("net_start")
            + F.pow(F.lit(2.0), 32 - F.col("prefix_len")).cast("long")
            - F.lit(1),
        )
        .select("prefix", "net_start", "net_end", "prefix_len", "cloud", "service", "region")
    )
