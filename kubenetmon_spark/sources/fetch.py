"""Cloud-feed fetch orchestration: download the four provider feeds and
rebuild the prefix dimension — the reference's daily-refresh loop
(reference pkg/labeler/remote.go:98-126, 188-210) as pure functions over
an INJECTED fetch callable.

The injectable-HTTP-client design keeps every branch testable offline:
``fetch(url) -> str`` returns the response body or raises on any
failure (the reference's ``fetchAndParse`` treats non-200 / transport
errors identically, public_ranges.go:340-358). Production callers pass
a GET with the reference's 10-second timeout (public_ranges.go:341-343)
that raises on non-2xx statuses; tests pass a dict-backed fake.

Feed endpoints (reference pkg/labeler/remote.go:188-210):

- AWS    https://ip-ranges.amazonaws.com/ip-ranges.json
- GCP    https://www.gstatic.com/ipranges/cloud.json
- Google https://www.gstatic.com/ipranges/goog.json
- Azure  a DATED url with no permalink — probed backwards day by day
  (reference pkg/labeler/public_ranges.go:311-338): start at today,
  walk back up to 90 days, and if every date 404s fall back to a
  pinned known-good snapshot.

At 100 TB nothing changes: the feeds are KB-to-MB documents fetched on
the driver once per refresh period; the parsed dimension broadcasts.
"""

from __future__ import annotations

from datetime import date, timedelta
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

AWS_FEED_URL = "https://ip-ranges.amazonaws.com/ip-ranges.json"
GCP_FEED_URL = "https://www.gstatic.com/ipranges/cloud.json"
GOOGLE_FEED_URL = "https://www.gstatic.com/ipranges/goog.json"
AZURE_URL_TEMPLATE = (
    "https://download.microsoft.com/download/7/1/D/"
    "71D86715-5596-4529-9B13-DA13A5DE5B63/ServiceTags_Public_{date}.json"
)
#: the reference's pinned known-good snapshot
#: (public_ranges.go:331)
AZURE_FALLBACK_DATE = "20240805"
AZURE_MAX_PROBE_DAYS = 90

Fetch = Callable[[str], str]


def azure_url_candidates(today: date) -> Iterator[str]:
    """The dated Azure URLs to probe, newest first — today back through
    ``AZURE_MAX_PROBE_DAYS`` (inclusive, 91 candidates: the reference
    loop runs i = 0..90, public_ranges.go:323-329)."""
    for i in range(AZURE_MAX_PROBE_DAYS + 1):
        d = (today - timedelta(days=i)).strftime("%Y%m%d")
        yield AZURE_URL_TEMPLATE.format(date=d)


def fetch_azure_feed(fetch: Fetch, today: date | None = None) -> str:
    """Azure date-probe: newest dated URL that fetches wins; if all 91
    dates fail, the pinned fallback is tried; if THAT fails, the last
    error propagates (the reference then skips this refresh cycle and
    keeps serving the previous dimension, remote.go:101-108)."""
    today = today or date.today()
    for url in azure_url_candidates(today):
        try:
            return fetch(url)
        except Exception:
            continue
    return fetch(AZURE_URL_TEMPLATE.format(date=AZURE_FALLBACK_DATE))


def fetch_cloud_feeds(
    fetch: Fetch, today: date | None = None
) -> dict[str, str]:
    """All four feed documents as text, keyed aws/gcp/google/azure.
    Any failure propagates — refresh is all-or-nothing, like the
    reference's getCloudRanges error path (remote.go:101-108)."""
    return {
        "aws": fetch(AWS_FEED_URL),
        "gcp": fetch(GCP_FEED_URL),
        "google": fetch(GOOGLE_FEED_URL),
        "azure": fetch_azure_feed(fetch, today),
    }


def read_feed_text(spark: SparkSession, text: str, feed: str) -> DataFrame:
    """One in-memory feed document -> its schema'd DataFrame (the
    string twin of ``read_feed_json``). The document is driver-held and
    KB-sized; parallelize(1) keeps it a single multiline JSON record."""
    from kubenetmon_spark.sources.feeds import _FEED_SCHEMAS

    rdd = spark.sparkContext.parallelize([text], 1)
    return spark.read.schema(_FEED_SCHEMAS[feed]).option(
        "multiLine", True
    ).json(rdd)


def refresh_prefixes(
    spark: SparkSession, fetch: Fetch, today: date | None = None
) -> DataFrame:
    """Fetch all four feeds and fold them into the prefix dimension
    (CLOUD_PREFIXES_SCHEMA) — one call = one reference refresh cycle
    (getCloudRanges + refreshRemoteIPs, remote.go:98-126)."""
    from kubenetmon_spark.sources.feeds import (
        build_prefixes_from_feeds,
        parse_aws_feed,
        parse_azure_feed,
        parse_gcp_feed,
        parse_google_feed,
    )

    texts = fetch_cloud_feeds(fetch, today)
    return build_prefixes_from_feeds(
        read_feed_text(spark, texts["aws"], "aws"),
        read_feed_text(spark, texts["gcp"], "gcp"),
        read_feed_text(spark, texts["google"], "google"),
        read_feed_text(spark, texts["azure"], "azure"),
    )


def make_dim_loader(
    spark: SparkSession,
    fetch: Fetch,
    pods: DataFrame,
    nodes: DataFrame,
    today: Callable[[], date] | None = None,
):
    """A ``dim_loader`` for ``start_flow_stream(dim_refresh_batches=N)``
    (streaming/job.py): each refresh re-fetches the cloud feeds and
    returns (pods, nodes, fresh_prefixes). The stream then re-flattens
    and re-broadcasts the LPM dimension — the reference's daily refresh
    goroutine (remote.go:98-126) expressed as the stream's existing
    refresh hook. Pod/node dims are passed through unchanged here;
    callers with live informer feeds wrap this with their own loaders.
    """

    def load():
        d = today() if today is not None else None
        return pods, nodes, refresh_prefixes(spark, fetch, d)

    return load
