"""The correctness-gate query surface: named queries over the driver's
synthetic tables, each with a DuckDB oracle producing identical values.

Design rules that make Spark-vs-DuckDB value-hash parity EXACT:
- money/measure doubles in the test data are 2-decimal-intended; every
  aggregation casts to DECIMAL first (exact, order-independent), rounds,
  and emits DOUBLE — so shuffle/merge order can never change a result;
- ratios are integer basis points (floor((x*10000)/y)) — no float division;
- timestamps are emitted as formatted strings or compared against
  second-truncated cutoffs (the events table is nanosecond-precision in
  DuckDB but microsecond in Spark; second truncation erases the gap);
- every hash is md5 over an explicit string — portable across engines;
- top-k queries always carry a unique tie-break column.

Each entry maps a SURVEY.md §2 operator (or an LLM-pipeline extension
operator) onto the driver tables; the production operator implementations
in kubenetmon_spark.operators are used wherever applicable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kubenetmon_spark.gate_kmeans import kmeans_exact_ctes
from kubenetmon_spark.functions import (
    canonical_flags_json,
    format_readable_size,
    ip_to_long,
    long_to_ip,
)
from kubenetmon_spark.operators.dedup import (
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from kubenetmon_spark.operators.lpm import lpm_lookup
from kubenetmon_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
)
from kubenetmon_spark.operators.text import (
    with_bpe_token_stats,
    with_lang_scores,
    with_quality,
    with_simhash16,
    with_token_stats,
    with_winnow_fingerprint,
)
from kubenetmon_spark.tables import load_table
from kubenetmon_spark.tables import local_df as _local_df

DEC2 = "decimal(12,2)"
RATE = "decimal(6,4)"


@dataclass
class GateQuery:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: list[GateQuery] = []


def _register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY.append(GateQuery(name, fn, oracle, doc))
        return fn

    return deco


def _dbl2(col):
    return F.round(col, 2).cast("double")


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation core (A1/A2/A4 analogues)
# ---------------------------------------------------------------------------

@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape — wide hash aggregation with exact decimal arithmetic",
)
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    price = F.col("l_extendedprice").cast(DEC2)
    disc = F.col("l_discount").cast(RATE)
    tax = F.col("l_tax").cast(RATE)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl2(F.sum(F.col("l_quantity").cast(DEC2))).alias("sum_qty"),
            _dbl2(F.sum(price)).alias("sum_base_price"),
            _dbl2(F.sum(price * (F.lit(1) - disc))).alias("sum_disc_price"),
            _dbl2(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "q02_top_talkers",
    """
    SELECT user_id, event_type,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value,
           COUNT(*) AS n
    FROM events
    WHERE ts >= (SELECT date_trunc('second', max(ts)) - INTERVAL 7 DAY FROM events)
      AND event_type <> 'error'
    GROUP BY user_id, event_type
    ORDER BY total_value DESC, user_id, event_type
    LIMIT 10
    """,
    "README top-talkers shape (reference README.md:180-184): time filter + group + top-N",
)
def q02(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.date_trunc("second", F.max("ts")) - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter((F.col("ts") >= F.col("cutoff")) & (F.col("event_type") != "error"))
        .groupBy("user_id", "event_type")
        .agg(
            _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.desc("total_value"), "user_id", "event_type")
        .limit(10)
    )


@_register(
    "q03_global_sum",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty,
           COUNT(*) AS n
    FROM lineitem
    """,
    "full-table sum (reference integration/e2e_test.go:23 shape)",
)
def q03(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        _dbl2(F.sum(F.col("l_extendedprice").cast(DEC2))).alias("total_price"),
        _dbl2(F.sum(F.col("l_quantity").cast(DEC2))).alias("total_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q04_minute_rollup",
    """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "minute-bucketed rollup — the SummingMergeTree tumbling-window contract (A1/A2)",
)
def q04(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total_value"),
        )
        .orderBy("minute", "event_type")
    )


@_register(
    "q05_direction_fanout",
    """
    SELECT l_returnflag, direction,
           CAST(ROUND(SUM(measure), 2) AS DOUBLE) AS total, COUNT(*) AS n
    FROM (
      SELECT l_returnflag, 'out' AS direction, CAST(l_extendedprice AS DECIMAL(12,2)) AS measure FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'in' AS direction, CAST(l_quantity AS DECIMAL(12,2)) AS measure FROM lineitem
    )
    GROUP BY l_returnflag, direction
    ORDER BY l_returnflag, direction
    """,
    "X1 direction fan-out: one row -> two directional rows, then re-aggregate",
)
def q05(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    fan = li.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(F.lit("out").alias("direction"), F.col("l_extendedprice").cast(DEC2).alias("measure")),
                F.struct(F.lit("in").alias("direction"), F.col("l_quantity").cast(DEC2).alias("measure")),
            )
        ).alias("d"),
    ).select("l_returnflag", "d.direction", "d.measure")
    return (
        fan.groupBy("l_returnflag", "direction")
        .agg(_dbl2(F.sum("measure")).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag", "direction")
    )


@_register(
    "q06_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    "TPC-H Q6 shape — selective filtered scan (predicate pushdown showcase, F8)",
)
def q06(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dbl2(F.sum(F.col("l_extendedprice").cast(DEC2) * F.col("l_discount").cast(RATE))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4 analogues)
# ---------------------------------------------------------------------------

@_register(
    "q07_region_revenue",
    """
    SELECT r_name, n_name, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    "dimension enrichment chain — broadcast hash joins (J1/J3 analogue)",
)
def q07(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dbl2(F.sum(F.col("o_totalprice").cast(DEC2))).alias("total"),
        )
        .orderBy("r_name", "n_name")
    )


@_register(
    "q08_customers_without_orders",
    """
    SELECT c_nationkey, COUNT(*) AS n
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    "left-anti join (F6/J2 node-flow filter analogue)",
)
def q08(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_nationkey")
    )


@_register(
    "q09_unambiguous_dim_guard",
    """
    WITH dim AS (
      SELECT s_nationkey, COUNT(*) AS n_sup, MIN(s_name) AS any_name
      FROM supplier GROUP BY s_nationkey
    )
    SELECT n_nationkey, n_name, any_name
    FROM nation JOIN dim ON n_nationkey = s_nationkey
    WHERE n_sup = 1
    ORDER BY n_nationkey
    """,
    "multi-match ambiguity guard (J1: >1 match -> drop; reference labeler.go:449-469)",
)
def q09(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    dim = s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_sup"), F.min("s_name").alias("any_name")
    )
    return (
        n.join(dim, n["n_nationkey"] == dim["s_nationkey"])
        .filter(F.col("n_sup") == 1)
        .select("n_nationkey", "n_name", "any_name")
        .orderBy("n_nationkey")
    )


_LPM_PREFIX_SQL = """
      SELECT CAST(n_nationkey AS VARCHAR) AS prefix,
             CAST(n_nationkey AS BIGINT) * 4096 AS net_start,
             CAST(n_nationkey AS BIGINT) * 4096 + 4095 AS net_end,
             20 AS prefix_len,
             CASE n_nationkey % 3 WHEN 0 THEN 'aws' WHEN 1 THEN 'gcp' ELSE 'azure' END AS cloud,
             'coarse' AS service,
             'r' || CAST(n_nationkey % 4 AS VARCHAR) AS region
      FROM nation
      UNION ALL
      SELECT 'f' || CAST(k AS VARCHAR),
             k * 256, k * 256 + 255, 24,
             CASE sk % 4 WHEN 1 THEN 'gcp' WHEN 2 THEN 'azure' ELSE 'aws' END,
             'fine',
             CASE WHEN sk % 5 = 0 THEN 'global' ELSE 'r' || CAST(sk % 4 AS VARCHAR) END
      FROM (SELECT s_suppkey % 400 AS k, MIN(s_suppkey) AS sk FROM supplier GROUP BY 1)
"""

@_register(
    "q10_lpm_classify",
    f"""
    WITH prefixes AS ({_LPM_PREFIX_SQL}),
    probes AS (
      SELECT c_custkey, (c_custkey * 2971) % 110000 AS ip FROM customer
    ),
    matched AS (
      SELECT p.c_custkey, p.ip, x.cloud, x.region,
             ROW_NUMBER() OVER (PARTITION BY p.c_custkey ORDER BY x.prefix_len DESC, x.net_start ASC) AS rn
      FROM probes p JOIN prefixes x ON p.ip BETWEEN x.net_start AND x.net_end
    ),
    best AS (SELECT * FROM matched WHERE rn = 1),
    classified AS (
      SELECT p.c_custkey, p.ip,
             CASE
               WHEN p.ip < 4096 THEN 'INTRA_VPC'
               WHEN b.cloud IS NULL THEN 'PUBLIC_INTERNET'
               WHEN b.cloud <> 'aws' THEN 'PUBLIC_INTERNET'
               WHEN b.region = 'global' THEN 'INTRA_REGION'
               WHEN b.region = 'r1' THEN 'INTRA_REGION'
               ELSE 'INTER_REGION'
             END AS connection_class
      FROM probes p LEFT JOIN best b ON p.c_custkey = b.c_custkey
    )
    SELECT connection_class, COUNT(*) AS n, MIN(ip) AS min_ip, MAX(ip) AS max_ip
    FROM classified GROUP BY connection_class ORDER BY connection_class
    """,
    "J5 longest-prefix-match join + J6 private short-circuit + J7 class CASE "
    "— gates the production lpm_lookup operator (banded broadcast join)",
)
def q10(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    coarse = n.select(
        F.col("n_nationkey").cast("string").alias("prefix"),
        (F.col("n_nationkey").cast("long") * 4096).alias("net_start"),
        (F.col("n_nationkey").cast("long") * 4096 + 4095).alias("net_end"),
        F.lit(20).alias("prefix_len"),
        F.when(F.col("n_nationkey") % 3 == 0, "aws")
        .when(F.col("n_nationkey") % 3 == 1, "gcp")
        .otherwise("azure")
        .alias("cloud"),
        F.lit("coarse").alias("service"),
        F.concat(F.lit("r"), (F.col("n_nationkey") % 4).cast("string")).alias("region"),
    )
    fine = (
        s.groupBy((F.col("s_suppkey") % 400).alias("k"))
        .agg(F.min("s_suppkey").alias("sk"))
        .select(
            F.concat(F.lit("f"), F.col("k").cast("string")).alias("prefix"),
            (F.col("k") * 256).cast("long").alias("net_start"),
            (F.col("k") * 256 + 255).cast("long").alias("net_end"),
            F.lit(24).alias("prefix_len"),
            F.when(F.col("sk") % 4 == 1, "gcp")
            .when(F.col("sk") % 4 == 2, "azure")
            .otherwise("aws")
            .alias("cloud"),
            F.lit("fine").alias("service"),
            F.when(F.col("sk") % 5 == 0, F.lit("global"))
            .otherwise(F.concat(F.lit("r"), (F.col("sk") % 4).cast("string")))
            .alias("region"),
        )
    )
    prefixes = coarse.unionByName(fine)
    probes = c.select(
        "c_custkey", ((F.col("c_custkey") * 2971) % 110000).alias("ip")
    )
    matched = lpm_lookup(probes, prefixes, ip_num_col="ip")
    cls = (
        F.when(F.col("ip") < 4096, "INTRA_VPC")
        .when(F.col("lpm_cloud").isNull(), "PUBLIC_INTERNET")
        .when(F.col("lpm_cloud") != "aws", "PUBLIC_INTERNET")
        .when(F.col("lpm_region") == "global", "INTRA_REGION")
        .when(F.col("lpm_region") == "r1", "INTRA_REGION")
        .otherwise("INTER_REGION")
    )
    return (
        matched.withColumn("connection_class", cls)
        .groupBy("connection_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ip").alias("min_ip"),
            F.max("ip").alias("max_ip"),
        )
        .orderBy("connection_class")
    )


# ---------------------------------------------------------------------------
# Window functions / top-N / distinct (A4+ — beyond-reference SQL surface)
# ---------------------------------------------------------------------------

@_register(
    "q11_running_total",
    """
    SELECT event_id, user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running
    FROM events
    ORDER BY event_id
    """,
    "cumulative window aggregation per key",
)
def q11(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        _dbl2(F.sum(F.col("value").cast(DEC2)).over(w)).alias("running"),
    ).orderBy("event_id")


@_register(
    "q12_topn_per_group",
    """
    SELECT event_type, rn, event_id, value FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    ORDER BY event_type, rn
    """,
    "top-N per group via ranking window",
)
def q12(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", "value")
        .orderBy("event_type", "rn")
    )


@_register(
    "q13_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "exact distinct aggregation",
)
def q13(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@_register(
    "q14_retention_window",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts >= (SELECT date_trunc('second', max(ts)) - INTERVAL 7 DAY FROM events)
    GROUP BY 1 ORDER BY 1
    """,
    "K5/F8 retention-window filter + daily histogram",
)
def q14(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.date_trunc("second", F.max("ts")) - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Scalar function surface (P2/P8, §2.8)
# ---------------------------------------------------------------------------

@_register(
    "q15_ip_format",
    """
    WITH ips AS (
      SELECT c_custkey, 167772160 + (c_custkey * 7919) % 16777216 AS ip_num FROM customer
    )
    SELECT c_custkey, ip_num,
           CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
           CAST(ip_num & 255 AS VARCHAR) AS ip,
           CAST(split_part(CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
                           CAST(ip_num & 255 AS VARCHAR), '.', 1) AS BIGINT) * 16777216 +
           CAST(split_part(CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
                           CAST(ip_num & 255 AS VARCHAR), '.', 2) AS BIGINT) * 65536 +
           CAST(split_part(CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
                           CAST(ip_num & 255 AS VARCHAR), '.', 3) AS BIGINT) * 256 +
           CAST(split_part(CAST((ip_num >> 24) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 16) & 255 AS VARCHAR) || '.' ||
                           CAST((ip_num >> 8) & 255 AS VARCHAR) || '.' ||
                           CAST(ip_num & 255 AS VARCHAR), '.', 4) AS BIGINT) AS ip_roundtrip
    FROM ips ORDER BY c_custkey
    """,
    "P2 IP format/parse round-trip via pure expressions (no UDF)",
)
def q15(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    ips = c.select(
        "c_custkey",
        (F.lit(167772160) + (F.col("c_custkey") * 7919) % 16777216).alias("ip_num"),
    )
    return ips.select(
        "c_custkey",
        "ip_num",
        long_to_ip("ip_num").alias("ip"),
        ip_to_long(long_to_ip("ip_num")).alias("ip_roundtrip"),
    ).orderBy("c_custkey")


@_register(
    "q16_readable_size",
    """
    WITH sums AS (
      SELECT l_returnflag,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 0) AS BIGINT) AS bytes
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, bytes,
           CASE
             WHEN bytes >= 1099511627776.0 THEN CAST(CAST(bytes / 1099511627776.0 AS DECIMAL(38,2)) AS VARCHAR) || ' TiB'
             WHEN bytes >= 1073741824.0 THEN CAST(CAST(bytes / 1073741824.0 AS DECIMAL(38,2)) AS VARCHAR) || ' GiB'
             WHEN bytes >= 1048576.0 THEN CAST(CAST(bytes / 1048576.0 AS DECIMAL(38,2)) AS VARCHAR) || ' MiB'
             WHEN bytes >= 1024.0 THEN CAST(CAST(bytes / 1024.0 AS DECIMAL(38,2)) AS VARCHAR) || ' KiB'
             ELSE CAST(CAST(bytes AS DECIMAL(38,2)) AS VARCHAR) || ' B'
           END AS readable
    FROM sums ORDER BY l_returnflag
    """,
    "formatReadableSize analogue (reference README.md:180)",
)
def q16(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sums = li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_extendedprice").cast(DEC2)), 0).cast("long").alias("bytes")
    )
    return sums.select(
        "l_returnflag", "bytes", format_readable_size("bytes").alias("readable")
    ).orderBy("l_returnflag")


@_register(
    "q17_flags_canonical",
    """
    SELECT '{"big":' || CASE WHEN value > 100.0 THEN 'true' ELSE 'false' END ||
           ',"even":' || CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END || '}' AS flags_key,
           COUNT(*) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
    "P8/§4.4 map canonicalization as a deterministic group key",
)
def q17(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    flags = F.create_map(
        F.lit("big"), F.col("value") > 100.0, F.lit("even"), F.col("user_id") % 2 == 0
    )
    return (
        ev.select(canonical_flags_json(flags).alias("flags_key"))
        .groupBy("flags_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("flags_key")
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: dedup / text / similarity
# ---------------------------------------------------------------------------

_DOCS_WITH_COPIES = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
"""

@_register(
    "q18_exact_dedup",
    f"""
    WITH docs AS ({_DOCS_WITH_COPIES})
    SELECT md5(lower(trim(text))) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n
    FROM docs GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id
    """,
    "exact dedup via content fingerprint (hash-groupBy)",
)
def q18(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    groups = exact_duplicate_groups(d.unionByName(copies), "doc_id", "text")
    return groups.filter(F.col("n") > 1).orderBy("keep_id")


@_register(
    "q19_token_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents ORDER BY doc_id
    """,
    "token counting (whitespace tokenizer)",
)
def q19(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_token_stats(d, "text").select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_chars_computed"
    ).orderBy("doc_id")


@_register(
    "q20_quality_score",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks, text FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in'], x))) AS BIGINT) AS stop_count,
           CAST((len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in'], x))) * 10000) // len(toks) AS BIGINT) AS stop_ratio_bp,
           CAST((len(list_distinct(toks)) * 10000) // len(toks) AS BIGINT) AS distinct_ratio_bp,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
    FROM t ORDER BY doc_id
    """,
    "quality scoring: stopword/distinct ratios in integer basis points",
)
def q20(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_quality(d, "text").select(
        "doc_id", "n_tokens", "stop_count", "stop_ratio_bp", "distinct_ratio_bp", "alpha_chars"
    ).orderBy("doc_id")


def _lang_filter_sql(markers: list[str]) -> str:
    inlist = ",".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter(toks, x -> list_contains([{inlist}], x))) AS BIGINT)"


_LANG_MARKERS_SQL = {
    "de": ["der", "und", "die"],
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "les", "des"],
    "zh": ["de5", "shi4", "le5"],
}

@_register(
    "q21_lang_id",
    f"""
    WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             {_lang_filter_sql(_LANG_MARKERS_SQL['de'])} AS score_de,
             {_lang_filter_sql(_LANG_MARKERS_SQL['en'])} AS score_en,
             {_lang_filter_sql(_LANG_MARKERS_SQL['es'])} AS score_es,
             {_lang_filter_sql(_LANG_MARKERS_SQL['fr'])} AS score_fr,
             {_lang_filter_sql(_LANG_MARKERS_SQL['zh'])} AS score_zh
      FROM t
    )
    SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
           CASE
             WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
             WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
             WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
             WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
             ELSE 'zh'
           END AS pred_lang
    FROM s ORDER BY doc_id
    """,
    "language-ID marker heuristic (deterministic scoring + argmax)",
)
def q21(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_lang_scores(d, "text").select(
        "doc_id", "lang", "score_de", "score_en", "score_es", "score_fr", "score_zh", "pred_lang"
    ).orderBy("doc_id")


_SHINGLES_SQL = """
      SELECT DISTINCT doc_id AS _id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(a) - 2, 0)),
               i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a FROM documents)
"""

@_register(
    "q22_ngram_jaccard",
    f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 5
    ),
    sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
    sizes AS (SELECT _id, COUNT(*) AS sz FROM sh GROUP BY _id),
    inter AS (
      SELECT s1._id AS id_1, s2._id AS id_2, COUNT(*) AS intersection
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1._id < s2._id
      GROUP BY s1._id, s2._id
    )
    SELECT id_1, id_2, intersection,
           (intersection * 10000) // (z1.sz + z2.sz - intersection) AS jaccard_bp
    FROM inter
    JOIN sizes z1 ON z1._id = id_1
    JOIN sizes z2 ON z2._id = id_2
    WHERE (intersection * 10000) // (z1.sz + z2.sz - intersection) >= 3000
    ORDER BY id_1, id_2
    """,
    "exact n-gram Jaccard near-dup pairs (word 3-grams, basis points) "
    "through the GUARDED form: max_df=5 drops ubiquitous shingles "
    "(df-capped fan-out keeps the self-join linear in shingle volume; "
    "the unbounded all-pairs plan now refuses to run above "
    "JACCARD_UNGUARDED_DOC_LIMIT without an explicit unsafe_exact "
    "opt-in), oracle mirrors the df cap shingle for shingle",
)
def q22(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(
        d, "doc_id", "text", n=3, threshold_bp=3000, max_df=5
    ).orderBy("id_1", "id_2")


# MinHash(8) + LSH(4 bands) candidate pairs, exact-verified at >= 3000 bp —
# shared between the pair query (q23) and the duplicate-cluster query (q43).
_MINHASH_PAIRS_SQL = f"""sh AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT _id, h, MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh, range(8) t(h) GROUP BY _id, h
    ),
    banded AS (
      SELECT _id, h // 2 AS band,
             string_agg(CAST(h AS VARCHAR) || '=' || minhash, '|'
                        ORDER BY CAST(h AS VARCHAR) || '=' || minhash) AS band_key
      FROM sig GROUP BY _id, h // 2
    ),
    cand AS (
      SELECT DISTINCT a._id AS id_1, b._id AS id_2
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a._id < b._id
    ),
    sizes AS (SELECT _id, COUNT(*) AS sz FROM sh GROUP BY _id),
    inter AS (
      SELECT c.id_1, c.id_2, COUNT(*) AS intersection
      FROM cand c
      JOIN sh s1 ON s1._id = c.id_1
      JOIN sh s2 ON s2._id = c.id_2 AND s2.shingle = s1.shingle
      GROUP BY c.id_1, c.id_2
    ),
    pairs AS (
      SELECT id_1, id_2,
             (intersection * 10000) // (z1.sz + z2.sz - intersection) AS jaccard_bp
      FROM inter
      JOIN sizes z1 ON z1._id = id_1
      JOIN sizes z2 ON z2._id = id_2
      WHERE (intersection * 10000) // (z1.sz + z2.sz - intersection) >= 3000
    )"""


@_register(
    "q23_minhash_lsh",
    f"""
    WITH {_MINHASH_PAIRS_SQL}
    SELECT id_1, id_2, jaccard_bp FROM pairs ORDER BY id_1, id_2
    """,
    "MinHash(8)+LSH(4 bands) near-dup candidates, exact-verified — deterministic md5 hashing",
)
def q23(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4, n=3, verify_threshold_bp=3000
    ).orderBy("id_1", "id_2")


@_register(
    "q24_embedding_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))), 4) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
    "brute-force inner-product top-k similarity search (ANN baseline)",
)
def q24(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return brute_force_topk(e, q, k=10)


def _simhash_oracle() -> str:
    digit_cols = ",\n             ".join(
        f"instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1 AS d{j}" for j in range(4)
    )
    sums = []
    for j in range(4):
        for k in range(4):
            ones = ",".join(str(v) for v in range(16) if (v >> k) & 1)
            sums.append(
                f"SUM(CASE WHEN d{j} IN ({ones}) THEN 1 ELSE -1 END) AS s{j}_{k}"
            )
    sum_cols = ",\n             ".join(sums)
    fp_terms = " + ".join(
        f"(CASE WHEN s{j}_{k} > 0 THEN 1 ELSE 0 END) * {1 << (4 * j + k)}"
        for j in range(4)
        for k in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, md5(tok) AS h FROM toks),
    d AS (SELECT doc_id,
             {digit_cols}
          FROM h),
    s AS (SELECT doc_id,
             {sum_cols}
          FROM d GROUP BY doc_id)
    SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash16
    FROM s ORDER BY doc_id
    """


@_register(
    "q25_simhash",
    _simhash_oracle(),
    "16-bit SimHash document fingerprint (md5-bit voting, engine-exact)",
)
def q25(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_simhash16(d, "doc_id", "text").orderBy("doc_id")


_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "k -> CAST({a}[k] AS DOUBLE) * CAST({b}[k] AS DOUBLE)))"
)


@_register(
    "q27_cosine_near_dup",
    f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 30
    ),
    n AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM base
    )
    SELECT a.vec_id AS id_1, b.vec_id AS id_2,
           CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')} / (a.nm * b.nm), 4) * 10000 AS BIGINT) AS cosine_bp
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')} / (a.nm * b.nm), 4) * 10000 AS BIGINT) >= 9500
    ORDER BY id_1, id_2
    """,
    "embedding-cosine near-duplicate pairs (exact all-pairs baseline; "
    "planted copies must surface at cosine_bp=10000). Uses the explicit "
    "exact method='sql' so the gate's exactness promise matches the "
    "oracle's on ANY dataset, over a BOUNDED slice (vec_id < 500, "
    "mirrored in the oracle) — the exact methods are the small-scale "
    "baseline and now refuse unbounded corpora without an opt-in "
    "(COSINE_EXACT_UNGUARDED_LIMIT); the scale-path LSH default is "
    "gated on the FULL table by q273",
)
def q27(spark, sf_dir):
    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 500)
    )
    copies = e.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return cosine_near_dup_pairs(
        e.unionByName(copies), threshold_bp=9500, method="sql"
    ).orderBy("id_1", "id_2")


@_register(
    "q28_ivf_topk",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROUND({_DOT.format(a='e.embedding', b='c.cv')}, 6) AS cscore
      FROM embeddings e, c
    ),
    asn AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
      FROM scored
    ),
    probes AS (
      SELECT c.cid FROM q, c
      ORDER BY ROUND({_DOT.format(a='q.qv', b='c.cv')}, 6) DESC, c.cid ASC
      LIMIT 4
    )
    SELECT a.vec_id, ROUND({_DOT.format(a='a.embedding', b='q.qv')}, 4) AS score
    FROM asn a JOIN probes p ON a.cid = p.cid, q
    WHERE a.rn = 1
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """,
    "IVF approximate top-k: deterministic centroid init, max-IP assignment, "
    "4-probe search — the partition-pruned ANN scale path",
)
def q28(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)


@_register(
    "q29_media_features",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           lower(substring(hex(encode(text)), 1, 16)) AS header_hex
    FROM documents ORDER BY media_id
    """,
    "multimodal binary-column plumbing: documents -> binary payloads -> "
    "Arrow-batched mapInPandas byte-feature extraction",
)
def q29(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    from kubenetmon_spark.operators.media import extract_media_features, media_from_text

    return extract_media_features(media_from_text(d)).orderBy("media_id")


@_register(
    "q30_bpe_token_stats",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha_pieces,
           CAST(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_num_pieces,
           CAST(len(toks)
                - len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+')))
                - len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_punct_pieces
    FROM t ORDER BY doc_id
    """,
    "BPE-style pre-tokenizer counts (letter/digit/punct runs)",
)
def q30(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_bpe_token_stats(d, "text").select(
        "doc_id", "n_pieces", "n_alpha_pieces", "n_num_pieces", "n_punct_pieces"
    ).orderBy("doc_id")


@_register(
    "q31_winnow_fingerprint",
    """
    WITH t AS (SELECT doc_id, trim(text) AS s FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN length(s) >= 8 THEN
               list_transform(generate_series(1, length(s) - 7), i ->
                 (CAST(unicode(s[i]) AS BIGINT) * 27512614111 +
                  CAST(unicode(s[i+1]) AS BIGINT) * 887503681 +
                  CAST(unicode(s[i+2]) AS BIGINT) * 28629151 +
                  CAST(unicode(s[i+3]) AS BIGINT) * 923521 +
                  CAST(unicode(s[i+4]) AS BIGINT) * 29791 +
                  CAST(unicode(s[i+5]) AS BIGINT) * 961 +
                  CAST(unicode(s[i+6]) AS BIGINT) * 31 +
                  CAST(unicode(s[i+7]) AS BIGINT)) % 2147483647)
             ELSE [] END AS hashes
      FROM t
    ),
    w AS (
      SELECT doc_id, hashes,
             CASE WHEN len(hashes) >= 4 THEN
               list_transform(generate_series(1, len(hashes) - 3), p ->
                 list_min(hashes[p:p+3]))
             ELSE [] END AS wins
      FROM g
    )
    SELECT doc_id,
           CAST(len(hashes) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_fp,
           md5(array_to_string(list_transform(list_sort(list_distinct(wins)), x -> CAST(x AS VARCHAR)), ',')) AS fp_digest
    FROM w ORDER BY doc_id
    """,
    "winnowing fingerprint (MOSS): polynomial rolling k-gram hashes, "
    "sliding-window minima, md5 of the fingerprint set",
)
def q31(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_winnow_fingerprint(d, "text", k=8, w=4).select(
        "doc_id", "n_grams", "n_fp", "fp_digest"
    ).orderBy("doc_id")


@_register(
    "q32_rollup",
    """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP(event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
    ORDER BY event_type, day
    """,
    "hierarchical ROLLUP aggregation (beyond-reference SQL surface, free in Spark)",
)
def q32(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return (
        ev.rollup(F.col("event_type"), day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
            "total_value",
        )
        .orderBy("event_type", "day")
    )


@_register(
    "q33_set_ops",
    """
    SELECT 'both' AS op, COUNT(*) AS n_users FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'error'
    )
    UNION ALL
    SELECT 'purchase_only', COUNT(*) FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error'
    )
    ORDER BY op
    """,
    "INTERSECT / EXCEPT set operations (X2 — absent in the reference, native here)",
)
def q33(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    both = purch.intersect(err).agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("both").alias("op"), "n_users"
    )
    # subtract == SQL EXCEPT (set semantics); exceptAll would treat the
    # duplicated purchase rows as a bag and keep survivors per-occurrence
    only = purch.subtract(err).agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("purchase_only").alias("op"), "n_users"
    )
    return both.unionByName(only).orderBy("op")


#: oracle for the end-to-end flow-stream gates (q34 JSON/parquet path,
#: q267 protobuf wire path): per-class/direction byte+packet sums
#: derived straight from the events table.
_FLOW_STREAM_ORACLE = """
    WITH base AS (
      SELECT CASE e.event_type
               WHEN 'view' THEN 'INTRA_REGION'
               WHEN 'purchase' THEN 'PUBLIC_INTERNET'
               WHEN 'click' THEN 'INTRA_VPC'
               WHEN 'signup' THEN 'INTRA_VPC'
               ELSE 'PUBLIC_INTERNET' END AS connectionClass,
             CAST(ROUND(e.value * 100, 0) AS BIGINT) + e.event_id % 1000 + 1 AS bytes_out,
             CAST(ROUND(e.value * 37, 0) AS BIGINT) + e.event_id % 777 + 1 AS bytes_in,
             e.event_id % 50 + 1 AS packets_out,
             e.event_id % 25 + 1 AS packets_in
      FROM events e
    )
    SELECT * FROM (
      SELECT connectionClass, 'out' AS direction,
             CAST(SUM(bytes_out) AS BIGINT) AS bytes, CAST(SUM(packets_out) AS BIGINT) AS packets
      FROM base GROUP BY connectionClass
      UNION ALL
      SELECT connectionClass, 'in',
             CAST(SUM(bytes_in) AS BIGINT), CAST(SUM(packets_in) AS BIGINT)
      FROM base GROUP BY connectionClass
    ) ORDER BY connectionClass, direction
    """


@_register(
    "q34_streaming_pipeline",
    _FLOW_STREAM_ORACLE,
    "GOLDEN streaming end-to-end: observations land as files, the checkpointed "
    "foreachBatch stream labels/fans-out/pre-sums per micro-batch, compaction "
    "folds cross-batch rows, and the final table must carry EXACTLY the "
    "per-class/direction sums the oracle derives from the events table "
    "(lost batches, double-processing, or counter mis-orientation all break it)",
)
def q34(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.sink import compact, read_flows
    from kubenetmon_spark.streaming import read_observations, start_flow_stream

    tmp = tempfile.mkdtemp(prefix="gate_stream_")
    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    # One micro-batch here: the gate measures the end-to-end streaming path
    # (source -> labeler -> sink -> compact); multi-batch sequencing and
    # restart semantics are covered by tests/test_streaming.py.
    obs.repartition(8).write.mode("overwrite").parquet(f"{tmp}/obs")
    q = start_flow_stream(
        read_observations(spark, f"{tmp}/obs"),
        f"{tmp}/flows",
        f"{tmp}/ckpt",
        pods,
        nodes,
        prefixes,
        DEMO_CFG,
        trigger={"availableNow": True},
    )
    q.awaitTermination(600)
    # every append is a pre-summed micro-batch (the stream's posture),
    # so compact's cost is merge-debt-proportional (sink.compact r8)
    compact(spark, f"{tmp}/flows", presummed=True)
    return (
        read_flows(spark, f"{tmp}/flows")
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("bytes"), F.sum("packets").alias("packets"))
        .orderBy("connectionClass", "direction")
    )


@_register(
    "q35_skew_safe_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct,
           COUNT(DISTINCT user_id) AS n_distinct_again
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "two-phase exact distinct — identical answer to COUNT(DISTINCT), "
    "skew-safe shuffle shape (hot keys spread across reducers by value)",
)
def q35(spark, sf_dir):
    from kubenetmon_spark.operators.agg import two_phase_count_distinct

    ev = _t(spark, sf_dir, "events")
    two = two_phase_count_distinct(ev, ["event_type"], "user_id")
    return two.withColumn("n_distinct_again", F.col("n_distinct")).orderBy("event_type")


@_register(
    "q37_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, event_id AS view_event_id, value AS view_value
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, v.view_event_id, v.view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
    "as-of join: each purchase matched to the user's most recent prior view "
    "— union+window single-shuffle form vs DuckDB's native ASOF JOIN",
)
def q37(spark, sf_dir):
    from kubenetmon_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"), F.col("value").alias("view_value")
    )
    return (
        asof_join(p, v, on=["user_id"], ts_col="ts")
        .select("event_id", "user_id", "view_event_id", "view_value")
        .orderBy("event_id")
    )


@_register(
    "q36_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99,
           MAX(l_quantity) AS mx
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "exact interpolated percentiles (Spark percentile == DuckDB quantile_cont "
    "linear interpolation)",
)
def q36(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
            F.expr("percentile(l_quantity, 0.99)").alias("p99"),
            F.max("l_quantity").alias("mx"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# End-to-end: the whole flow pipeline vs a golden oracle
# ---------------------------------------------------------------------------

@_register(
    "q26_flow_pipeline",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    base AS (
      SELECT 'pod-' || CAST(e.user_id AS VARCHAR) AS localPod,
             CASE WHEN e.event_type = 'click' AND p2.user_id IS NOT NULL
                  THEN 'pod-' || CAST((e.user_id + 1 + e.event_id % 97) % 150 AS VARCHAR)
                  ELSE '' END AS remotePod,
             CASE e.event_type
               WHEN 'view' THEN 'INTRA_REGION'
               WHEN 'purchase' THEN 'PUBLIC_INTERNET'
               WHEN 'click' THEN 'INTRA_VPC'
               WHEN 'signup' THEN 'INTRA_VPC'
               ELSE 'PUBLIC_INTERNET' END AS connectionClass,
             CAST(ROUND(e.value * 100, 0) AS BIGINT) + e.event_id % 1000 + 1 AS bytes_out
      FROM events e
      LEFT JOIN users p2 ON p2.user_id = (e.user_id + 1 + e.event_id % 97) % 150
    ),
    agg AS (
      SELECT localPod, remotePod, connectionClass,
             CAST(SUM(bytes_out) AS BIGINT) AS total_bytes
      FROM base GROUP BY 1, 2, 3
      ORDER BY total_bytes DESC, localPod, remotePod, connectionClass
      LIMIT 20
    )
    SELECT localPod, remotePod, connectionClass, total_bytes,
           CASE
             WHEN total_bytes >= 1073741824.0 THEN CAST(CAST(total_bytes / 1073741824.0 AS DECIMAL(38,2)) AS VARCHAR) || ' GiB'
             WHEN total_bytes >= 1048576.0 THEN CAST(CAST(total_bytes / 1048576.0 AS DECIMAL(38,2)) AS VARCHAR) || ' MiB'
             WHEN total_bytes >= 1024.0 THEN CAST(CAST(total_bytes / 1024.0 AS DECIMAL(38,2)) AS VARCHAR) || ' KiB'
             ELSE CAST(CAST(total_bytes AS DECIMAL(38,2)) AS VARCHAR) || ' B'
           END AS readable
    FROM agg
    ORDER BY total_bytes DESC, localPod, remotePod, connectionClass
    """,
    "GOLDEN end-to-end: observation derivation -> full labeler (filters, "
    "pod joins, LPM with nested prefixes, classification) -> fan-out -> "
    "summing aggregation -> README top-talkers. The oracle encodes the "
    "EXPECTED per-scenario classes, so any pipeline regression (wrong LPM "
    "winner, counter mis-orientation, lost rows) breaks the value hash.",
)
def q26(spark, sf_dir):
    from kubenetmon_spark.demo import flagship_query

    return flagship_query(spark, sf_dir)


# ---------------------------------------------------------------------------
# Sessionization / time series / SQL-surface width (beyond-reference ops)
# ---------------------------------------------------------------------------

@_register(
    "q38_sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                       OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    sess AS (
      SELECT user_id, ts_s,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_sess AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MAX(ts_s) - MIN(ts_s) AS duration_s
      FROM sess GROUP BY user_id, session_id
    )
    SELECT n_events, COUNT(*) AS n_sessions,
           CAST(SUM(duration_s) AS BIGINT) AS total_duration_s
    FROM per_sess GROUP BY n_events ORDER BY n_events
    """,
    "gap-based sessionization (30-min inactivity) via lag + running sum — "
    "single shuffle on the session key; session-size distribution output",
)
def q38(spark, sf_dir):
    from kubenetmon_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    per_sess = session_stats(
        ev, ["user_id"], ts_col="ts", gap_seconds=1800, order_cols=["event_id"]
    )
    return (
        per_sess.groupBy("n_events")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("duration_s").alias("total_duration_s"),
        )
        .orderBy("n_events")
    )


@_register(
    "q39_gapfill",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS s, date_trunc('hour', max(ts)) AS e
      FROM events
    ),
    grid AS (
      SELECT t.event_type,
             unnest(generate_series(b.s, b.e, INTERVAL 1 HOUR)) AS bucket
      FROM (SELECT DISTINCT event_type FROM events) t, bounds b
    ),
    observed AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, strftime(g.bucket, '%Y-%m-%d %H:00') AS hour,
           COALESCE(o.n, 0) AS n, COALESCE(o.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN observed o
      ON o.event_type = g.event_type AND o.bucket = g.bucket
    ORDER BY g.event_type, hour
    """,
    "time-series densification: sequence()-generated hourly grid per series "
    "key, zero-filled left join — grid built without touching fact rows",
)
def q39(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import densify

    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("start"),
        F.date_trunc("hour", F.max("ts")).alias("end"),
    )
    keys = ev.select("event_type").distinct()
    observed = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total_value"),
    )
    dense = densify(observed, keys, bounds, "bucket", step="1 hour")
    return dense.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        "total_value",
    ).orderBy("event_type", "hour")


@_register(
    "q40_pivot",
    """
    SELECT source,
           COUNT(*) FILTER (WHERE lang = 'de') AS de,
           COUNT(*) FILTER (WHERE lang = 'en') AS en,
           COUNT(*) FILTER (WHERE lang = 'es') AS es,
           COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
           COUNT(*) FILTER (WHERE lang = 'zh') AS zh,
           COUNT(*) AS total
    FROM documents GROUP BY source ORDER BY source
    """,
    "pivot (long -> wide): per-source document counts by language; "
    "explicit pivot values keep the schema static for Catalyst",
)
def q40(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    wide = (
        d.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("total"))
    out = wide.join(counts, "source")
    return out.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).alias(l) for l in langs],
        "total",
    ).orderBy("source")


@_register(
    "q41_cube",
    """
    SELECT COALESCE(pri, 'ALL') AS priority,
           COALESCE(CAST(yr AS VARCHAR), 'ALL') AS year,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM (SELECT o_orderpriority AS pri, CAST(year(o_orderdate) AS INT) AS yr,
                 o_totalprice AS price
          FROM orders)
    GROUP BY CUBE(pri, yr)
    ORDER BY priority, year
    """,
    "CUBE aggregation: all 4 grouping-set combinations in one pass "
    "(beyond-reference SQL surface, native in both engines)",
)
def q41(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_totalprice").alias("price"),
    )
    return (
        o.cube("pri", "yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl2(F.sum(F.col("price").cast(DEC2))).alias("total"),
        )
        .select(
            F.coalesce("pri", F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("year"),
            "n",
            "total",
        )
        .orderBy("priority", "year")
    )


@_register(
    "q42_hash_sample",
    """
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
    GROUP BY lang ORDER BY lang
    """,
    "deterministic 25% hash sample (md5 of the stable id) — reproducible "
    "across runs/engines/partitionings, uniform within every stratum",
)
def q42(spark, sf_dir):
    from kubenetmon_spark.operators.sampling import deterministic_sample

    d = deterministic_sample(_t(spark, sf_dir, "documents"), "doc_id", keep_bp=2500)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@_register(
    "q43_dup_clusters",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_SQL},
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION
      SELECT id_2 AS a, id_1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_rep FROM reach GROUP BY node)
    SELECT cluster_rep, COUNT(*) AS size, CAST(SUM(node) AS BIGINT) AS member_sum
    FROM comp GROUP BY cluster_rep ORDER BY cluster_rep
    """,
    "near-dup pairs -> duplicate CLUSTERS via iterative min-label "
    "connected components (canonical doc = min id); oracle closes the "
    "same graph with a recursive CTE",
)
def q43(spark, sf_dir):
    from kubenetmon_spark.operators.graph import duplicate_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4, n=3, verify_threshold_bp=3000
    )
    clusters = duplicate_clusters(pairs)
    return (
        clusters.groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).alias("size"), F.sum("node").alias("member_sum"))
        .orderBy("cluster_rep")
    )


@_register(
    "q44_semi_join",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    "EXISTS semi-join (orders with any high-quantity line) — left-semi "
    "hash join, fact side never duplicated",
)
def q44(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    hot = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(hot, o["o_orderkey"] == hot["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@_register(
    "q45_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small,
           COUNT(DISTINCT l.l_partkey) AS n_parts,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
    FROM lineitem l JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * pa.cnt < sq
    """,
    "TPC-H Q17 shape: per-part average via self-aggregation join, exact "
    "integer arithmetic for the 0.2*avg predicate (quantities are integral)",
)
def q45(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    j = li.join(pa, "l_partkey").filter(
        F.col("l_quantity").cast("bigint") * 5 * F.col("cnt") < F.col("sq")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.countDistinct("l_partkey").alias("n_parts"),
        _dbl2(F.sum(F.col("l_extendedprice").cast(DEC2))).alias("total_price"),
    )


@_register(
    "q46_rank_ntile",
    """
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, total,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS quartile
      FROM per_user WINDOW w AS (PARTITION BY event_type ORDER BY total DESC, user_id)
    )
    SELECT event_type, user_id, total, rnk, drnk, quartile
    FROM ranked WHERE rnk <= 3 ORDER BY event_type, rnk, user_id
    """,
    "rank/dense_rank/ntile window family over per-key aggregates; "
    "unique tie-break keeps every rank deterministic",
)
def q46(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("user_id"))
    return (
        per_user.withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("quartile", F.ntile(4).over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("event_type", "rnk", "user_id")
    )


@_register(
    "q47_correlated_subquery",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders o
    WHERE CAST(o.o_totalprice AS DECIMAL(12,2))
          * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
          > (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(12,2))) FROM orders i
             WHERE i.o_custkey = o.o_custkey)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    "correlated scalar subqueries (orders above their customer's average, "
    "exact sum*count arithmetic) — Catalyst decorrelates to an aggregate "
    "join; the Spark side IS the same SQL text via spark.sql",
)
def q47(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o.o_orderpriority, COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        FROM orders o
        WHERE CAST(o.o_totalprice AS DECIMAL(12,2))
              * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(12,2))) FROM orders i
                 WHERE i.o_custkey = o.o_custkey)
        GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
        """
    )


@_register(
    "q48_json_extract",
    """
    SELECT CAST(CAST(props->>'k' AS BIGINT) // 10 AS BIGINT) AS k_decile,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    "semi-structured escape hatch: JSON property extraction + typed "
    "aggregation (the connectionFlags map analogue for open-ended attrs)",
)
def q48(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy(F.floor(k / 10).cast("bigint").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl2(F.sum(F.col("value").cast(DEC2))).alias("total_value"),
        )
        .orderBy("k_decile")
    )


@_register(
    "q49_pii_redaction",
    """
    WITH seeded AS (
      SELECT doc_id, lang,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ph 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-0107'
                  || CASE WHEN doc_id % 2 = 0 THEN ' id 123-45-6789' ELSE '' END AS text
      FROM documents
    ),
    red AS (
      SELECT lang,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
             len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
             len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn,
             length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g')) AS red_len
      FROM seeded
    )
    SELECT lang, CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(n_ssn) AS BIGINT) AS ssns,
           CAST(SUM(red_len) AS BIGINT) AS redacted_chars
    FROM red GROUP BY lang ORDER BY lang
    """,
    "PII redaction scrub (email/phone/SSN) — codegen'd regexp chain, "
    "patterns valid in both Java regex and RE2; PII injected "
    "deterministically from doc_id so matches are non-trivial",
)
def q49(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_redacted_text

    d = _t(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ph 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0107"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" id 123-45-6789")).otherwise(
                F.lit("")
            ),
        ),
    )
    red = with_redacted_text(seeded, "text")
    return (
        red.groupBy("lang")
        .agg(
            F.sum("n_email").alias("emails"),
            F.sum("n_phone").alias("phones"),
            F.sum("n_ssn").alias("ssns"),
            F.sum(F.length("redacted")).alias("redacted_chars"),
        )
        .orderBy("lang")
    )


@_register(
    "q50_quantized_topk",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e
    ),
    q AS (
      SELECT vec_id,
             CASE WHEN ma = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(floor(x * 127 / ma + 0.5) AS BIGINT))
             END AS qv
      FROM m
    ),
    qq AS (SELECT qv AS query FROM q WHERE vec_id = 0)
    SELECT q.vec_id,
           CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                i -> q.qv[i] * qq.query[i])) AS BIGINT) AS iscore
    FROM q, qq WHERE q.vec_id != 0
    ORDER BY iscore DESC, q.vec_id LIMIT 10
    """,
    "int8-range embedding quantization + integer dot-product top-k — "
    "floor(x+0.5) rounding is engine-identical, integer accumulation is "
    "order-independent, so ranks are reproducible bit-for-bit",
)
def q50(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, query_id=0, id_col="vec_id", vec_col="embedding", k=10)


@_register(
    "q51_moving_avg",
    """
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
           COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS w_size
    FROM daily ORDER BY event_type, day
    """,
    "sliding-frame window (7-day moving sum + frame size) — emitting the "
    "sum and count instead of their ratio keeps values engine-exact",
)
def q51(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("n_7d", F.sum("n").over(w))
        .withColumn("w_size", F.count(F.lit(1)).over(w))
        .orderBy("event_type", "day")
    )


@_register(
    "q52_unpivot",
    """
    WITH agg AS (
      SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS total_cents,
             COUNT(DISTINCT o_custkey) AS n_customers
      FROM orders GROUP BY 1
    )
    SELECT priority, metric, value FROM (
      SELECT priority, 'n_orders' AS metric, n_orders AS value FROM agg
      UNION ALL
      SELECT priority, 'total_cents', total_cents FROM agg
      UNION ALL
      SELECT priority, 'n_customers', n_customers FROM agg
    ) ORDER BY priority, metric
    """,
    "wide -> long unpivot (Spark unpivot/stack; money carried as integer "
    "cents so one bigint value column fits all metrics)",
)
def q52(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast(DEC2)) * 100).cast("bigint").alias("total_cents"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    return agg.unpivot(
        ["priority"],
        ["n_orders", "total_cents", "n_customers"],
        "metric",
        "value",
    ).orderBy("priority", "metric")


@_register(
    "q53_percent_of_total",
    """
    WITH by_nation AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    )
    SELECT nation, cents,
           CAST((cents * 10000) // SUM(cents) OVER () AS BIGINT) AS share_bp
    FROM by_nation ORDER BY cents DESC, nation
    """,
    "percent-of-total via unpartitioned window sum over the aggregated "
    "(tiny) result — integer basis points, never a window over fact rows",
)
def q53(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    by_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(F.col("o_totalprice").cast(DEC2)) * 100).cast("bigint").alias("cents"))
    )
    return (
        by_nation.withColumn(
            "share_bp",
            F.floor((F.col("cents") * 10000) / F.sum("cents").over(Window.partitionBy()))
            .cast("bigint"),
        )
        .orderBy(F.desc("cents"), "nation")
    )


@_register(
    "q54_lead_lag",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             LAG(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               OVER w AS prev_cents,
             FIRST_VALUE(o_orderkey) OVER w AS first_order
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderkey, cents,
           COALESCE(cents - prev_cents, 0) AS delta_cents, first_order
    FROM seq
    WHERE o_custkey % 50 = 0
    ORDER BY o_custkey, o_orderkey
    """,
    "lead/lag + first_value over a per-customer order sequence (unique "
    "tie-break on o_orderkey); integer-cent deltas",
)
def q54(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC2) * 100).cast("bigint")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("cents", cents)
        .withColumn("prev_cents", F.lag("cents").over(w))
        .withColumn("first_order", F.first("o_orderkey").over(w))
        .filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            "cents",
            F.coalesce(F.col("cents") - F.col("prev_cents"), F.lit(0)).alias("delta_cents"),
            "first_order",
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@_register(
    "q55_ordered_agg",
    """
    SELECT c_nationkey,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
           COUNT(*) AS n
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "ordered distinct string aggregation — Spark side sorts the collected "
    "set so the output is deterministic under any shuffle order",
)
def q55(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "q56_approx_sketches",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_users,
             approx_count_distinct(user_id) AS a,
             approx_quantile(value, 0.5) AS p,
             COUNT(value) AS n_vals
      FROM events GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(s.exact_users AS BIGINT) AS exact_users,
           CAST(s.n_vals AS BIGINT) AS n_vals,
           abs(s.a - s.exact_users)
             <= GREATEST(CAST(ceil(0.10 * s.exact_users) AS BIGINT), 3)
             AS users_within_10pct,
           ((SELECT COUNT(*) FROM events e
             WHERE e.event_type = s.event_type AND e.value < s.p)
               <= CAST(ceil(0.55 * s.n_vals) AS BIGINT)
            AND (SELECT COUNT(*) FROM events e
                 WHERE e.event_type = s.event_type AND e.value <= s.p)
               >= CAST(floor(0.45 * s.n_vals) AS BIGINT))
             AS p50_within_rank_band
    FROM s ORDER BY event_type
    """,
    "approximate aggregates (HLL++ count-distinct, approx percentiles) "
    "as a HASH-CHECKABLE CONTRACT: sketch bytes/estimates legitimately "
    "differ per engine, so the gate outputs what IS portable — the "
    "exact counts plus booleans asserting each engine's OWN sketch "
    "lands inside a generous accuracy band (10% + 3 on distinct users "
    "at rsd 0.02, a 45-55% rank band for the approx median). Both "
    "sketches still execute for real and garbage estimates fail the "
    "gate; closes the former rows-only annotation. The exact "
    "countDistinct twin column forces an Expand double-scan here — "
    "acceptable for a correctness gate; at 100 TB you run the sketches "
    "alone (q283 is the engine-exact mergeable-HLL path)",
)
def q56(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # r7: countDistinct mixed into the sketch aggregation forced an
    # Expand — every sketch buffer (HLL, QuantileSummaries) processed
    # 2x rows through a branch (measured 4.2s vs 0.35s for the split
    # at sf0.1, guide §1.2 "fix the distributed algorithm first").
    # exact_users = distinct-then-count, bit-identical to
    # COUNT(DISTINCT); the sketches see the same rows as before.
    # The isNotNull filter keeps COUNT(DISTINCT) semantics for ANY
    # input (a NULL user_id must not count as a distinct user —
    # ADVICE r07); a no-op on NULL-free data, so the oracle hash is
    # unchanged.
    s1 = (
        ev.select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    s = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("_a"),
            F.expr("approx_percentile(value, 0.5)").alias("_p"),
            F.count("value").alias("n_vals"),
        )
        .join(s1, "event_type")
    )
    chk = (
        ev.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("exact_users").alias("exact_users"),
            F.first("n_vals").alias("n_vals"),
            F.first("_a").alias("_a"),
            F.first("_p").alias("_p"),
            F.sum(
                F.when(F.col("value") < F.col("_p"), 1).otherwise(0)
            ).alias("_lt"),
            F.sum(
                F.when(F.col("value") <= F.col("_p"), 1).otherwise(0)
            ).alias("_le"),
        )
    )
    return chk.select(
        "event_type",
        "exact_users",
        "n_vals",
        (
            F.abs(F.col("_a") - F.col("exact_users"))
            <= F.greatest(F.ceil(F.col("exact_users") * 0.10), F.lit(3))
        ).alias("users_within_10pct"),
        (
            (F.col("_lt") <= F.ceil(F.col("n_vals") * 0.55))
            & (F.col("_le") >= F.floor(F.col("n_vals") * 0.45))
        ).alias("p50_within_rank_band"),
    ).orderBy("event_type")


@_register(
    "q57_word_count",
    """
    SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
      FROM documents
    )
    WHERE word != ''
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
    "the canonical explode -> aggregate shape (word count, top 20 with "
    "deterministic tie-break) — lateral/unnest surface",
)
def q57(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


@_register(
    "q58_region_supplier_volume",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
             AS revenue_e4
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "TPC-H Q5 shape: 5-table snowflake join — Catalyst orders the joins, "
    "dims broadcast, fact side shuffles only for the final aggregation; "
    "revenue carried as exact integer 1e-4 units",
)
def q58(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"),
        )
        .orderBy("region", "nation")
    )


@_register(
    "q59_heavy_hitters",
    """
    SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS n
    FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
    """,
    "sketch-then-verify top talkers: per-partition Misra-Gries candidates "
    "+ exact verification — identical answer to the full groupBy (the "
    "oracle) while shuffling only candidate keys; num_counters sized so "
    "completeness holds at every tested scale factor",
)
def q59(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", k=10, num_counters=4096)


@_register(
    "q60_promo_share",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                         ELSE 0 END) * 10000 AS BIGINT) AS promo_e4,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
             AS total_e4,
           CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                   * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                              ELSE 0 END) * 10000 AS BIGINT) * 10000
                // CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000
                        AS BIGINT)
                AS BIGINT) AS promo_share_bp
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-01-01'
    """,
    "TPC-H Q14 shape: conditional aggregation over a fact x broadcast-dim "
    "join — the CASE rides inside the partial aggregate so the join output "
    "is never materialized; share as integer basis points over exact e4 sums",
)
def q60(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC2))
    agg = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(promo_rev) * 10000).cast("bigint").alias("promo_e4"),
            (F.sum(rev) * 10000).cast("bigint").alias("total_e4"),
        )
    )
    return agg.withColumn(
        "promo_share_bp",
        F.expr("promo_e4 * 10000 DIV total_e4").cast("bigint"),
    )


@_register(
    "q61_grouping_sets",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    ORDER BY priority, status
    """,
    "explicit GROUPING SETS (not a rollup/cube prefix lattice): four "
    "user-chosen groupings in ONE shuffle via Catalyst's Expand — null "
    "markers canonicalized to 'ALL' so the key is engine-portable",
)
def q61(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                ["o_orderpriority", "o_orderstatus"],
                ["o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("o_totalprice").cast(DEC2)) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "cents",
        )
        .orderBy("priority", "status")
    )


@_register(
    "q62_shipping_priority",
    """
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
             AS revenue_e4,
           strftime(MIN(o.o_orderdate), '%Y-%m-%d') AS orderdate,
           MIN(o.o_orderpriority) AS priority
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-06-01'
      AND l.l_shipdate  > TIMESTAMP '1995-06-01'
    GROUP BY l.l_orderkey
    ORDER BY revenue_e4 DESC, orderkey LIMIT 10
    """,
    "TPC-H Q3 shape: segment-filtered customer dim broadcast into orders, "
    "orders (date-pruned) joined to lineitem, top-10 unshipped orders by "
    "revenue with a unique orderkey tie-break",
)
def q62(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp_ntz")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-01").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            (F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
            F.min("o_orderpriority").alias("priority"),
        )
        .orderBy(F.desc("revenue_e4"), "orderkey")
        .limit(10)
    )


@_register(
    "q63_incremental_rollup",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) * 10000 AS BIGINT) AS value_e4
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "materialized-view maintenance algebra (operators/mv.py): the fact "
    "stream split into two arrival batches, each partially aggregated, "
    "then merge_rollup folds the partials — the oracle aggregates the "
    "union directly, proving batch-order-independent equivalence (the "
    "SummingMergeTree merge contract, reference network_flows_0.sql:39)",
)
def q63(spark, sf_dir):
    from kubenetmon_spark.operators.mv import aggregate_delta, merge_rollup

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    keys = ["day", "event_type"]
    sum_exprs = {
        "n": F.lit(1),
        "value_e4": (F.col("value").cast(DEC2) * 10000).cast("bigint"),
    }
    batch1 = aggregate_delta(ev.filter(F.col("event_id") % 2 == 0), keys, sum_exprs)
    batch2 = aggregate_delta(ev.filter(F.col("event_id") % 2 == 1), keys, sum_exprs)
    return merge_rollup([batch1, batch2], keys, ["n", "value_e4"]).orderBy(
        "day", "event_type"
    )


@_register(
    "q64_ngram_repetition",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [] END AS ngr
      FROM t
    )
    SELECT doc_id, CAST(len(ngr) AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(ngr)) AS BIGINT) AS n_distinct_ngrams,
           CAST(CASE WHEN len(ngr) > 0
                THEN (len(ngr) - len(list_distinct(ngr))) * 10000 // len(ngr)
                ELSE 0 END AS BIGINT) AS dup_ngram_bp
    FROM g ORDER BY doc_id
    """,
    "duplicate word-trigram fraction per document (Gopher/RefinedWeb "
    "repetition quality filter) — Arrow/NumPy single-pass tokenization, "
    "scan-side projection with zero shuffle; integer basis points",
)
def q64(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_ngram_repetition

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        with_ngram_repetition(d, n=3)
        .select("doc_id", "n_ngrams", "n_distinct_ngrams", "dup_ngram_bp")
        .orderBy("doc_id")
    )


@_register(
    "q66_dedup_keep_best",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_SQL},
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION
      SELECT id_2 AS a, id_1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_rep FROM reach GROUP BY node),
    member AS (
      SELECT c.cluster_rep, c.node, length(d.text) AS n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT cluster_rep, node AS member, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY cluster_rep
                    ORDER BY n_chars DESC, node) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM member ORDER BY cluster_rep, member
    """,
    "the dedup pipeline's last mile: near-dup clusters -> ONE canonical "
    "survivor per cluster (longest text, doc-id tie-break), the rest "
    "marked for drop — window argmax over the clustered subset only "
    "(never the full corpus)",
)
def q66(spark, sf_dir):
    from kubenetmon_spark.operators.graph import duplicate_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4, n=3, verify_threshold_bp=3000
    )
    clusters = duplicate_clusters(pairs)
    member = clusters.join(
        d.select("doc_id", F.length("text").alias("n_chars")),
        clusters["node"] == F.col("doc_id"),
    )
    w = Window.partitionBy("cluster_rep").orderBy(F.desc("n_chars"), "node")
    return (
        member.withColumn("rn", F.row_number().over(w))
        .select(
            "cluster_rep",
            F.col("node").alias("member"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
        .orderBy("cluster_rep", "member")
    )


@_register(
    "q65_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
    )
    SELECT c.c_name AS customer, o.o_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS qty_e2,
           CAST(CAST(MIN(o.o_totalprice) AS DECIMAL(12,2)) * 100 AS BIGINT)
             AS totalprice_e2
    FROM orders o
    JOIN big ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    ORDER BY qty_e2 DESC, orderkey LIMIT 20
    """,
    "TPC-H Q18 shape: semi-join against a grouped-HAVING subquery — the "
    "qualifying-keys set is aggregated FIRST (small output), then joined "
    "back to facts; quantities as exact e2 integers, unique orderkey "
    "tie-break",
)
def q65(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast(DEC2)
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 150)
        .select(F.col("l_orderkey").alias("_big_orderkey"))
    )
    return (
        o.join(big, o["o_orderkey"] == F.col("_big_orderkey"))
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            F.col("c_name").alias("customer"),
            F.col("o_orderkey").alias("orderkey"),
        )
        .agg(
            (F.sum(qty) * 100).cast("bigint").alias("qty_e2"),
            (F.min("o_totalprice").cast(DEC2) * 100)
            .cast("bigint")
            .alias("totalprice_e2"),
        )
        .orderBy(F.desc("qty_e2"), "orderkey")
        .limit(20)
    )


@_register(
    "q67_order_count_histogram",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 shape: left outer join with a join-side predicate (NOT a "
    "WHERE — unmatched customers must survive as count 0), then a second "
    "aggregation over the first's output. Two shuffles, the second over "
    "a tiny domain (distinct counts)",
)
def q67(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_register(
    "q68_dormant_rich_customers",
    """
    WITH t AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT) AS s,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT) AS totacctbal_c
    FROM customer c, t
    WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) > s // n
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey ORDER BY nationkey
    """,
    "TPC-H Q22 shape: scalar-subquery threshold (global avg as exact integer "
    "cents, floor-divided) + anti-join against recent orders (every customer "
    "has SOME order in this data, so dormancy = no order in the last ~18mo). "
    "The anti-join build side is a pre-filtered key projection",
)
def q68(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast(DEC2) * 100).cast("bigint")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC2)) * 100).cast("bigint").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.expr("s DIV n").alias("thr"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        c.join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .crossJoin(F.broadcast(thr))
        .filter(cents > F.col("thr"))
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(F.col("c_acctbal").cast(DEC2)) * 100)
            .cast("bigint")
            .alias("totacctbal_c"),
        )
        .orderBy("nationkey")
    )


@_register(
    "q69_disjunctive_scan",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
             AS revenue_e4
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 15 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 25 AND 50
           AND l.l_quantity BETWEEN 30 AND 45)
    """,
    "TPC-H Q19 shape: disjunction of conjunctive ranges across BOTH join "
    "sides. Catalyst pushes the per-side residuals (l_quantity in the union "
    "of ranges; p_brand IN (...)) below the join while keeping the cross-"
    "side OR as a join residual — the scan never reads rows no disjunct "
    "can accept",
)
def q69(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & qty.between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & qty.between(15, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(25, 50) & qty.between(30, 45))
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"),
        )
    )


@_register(
    "q70_part_value_share",
    """
    WITH pr AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
               AS rev_e4
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS t FROM pr)
    SELECT l_partkey AS partkey, rev_e4
    FROM pr, tot WHERE rev_e4 * 2000 > t
    ORDER BY rev_e4 DESC, partkey
    """,
    "TPC-H Q11 shape: per-group value HAVING > fraction-of-global-scalar. "
    "The global total is an unpartitioned window SUM over the per-part "
    "aggregate — the fact table is scanned and aggregated exactly once "
    "(a scalar-subquery formulation re-scans the fact side twice), and "
    "the single-partition window only ever sees |partkey| pre-aggregated "
    "rows, never facts",
)
def q70(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    pr = li.groupBy("l_partkey").agg(
        (F.sum(rev) * 10000).cast("bigint").alias("rev_e4")
    )
    t = F.sum("rev_e4").over(Window.partitionBy())
    return (
        pr.withColumn("_t", t.cast("bigint"))
        .filter(F.col("rev_e4") * 2000 > F.col("_t"))
        .select(F.col("l_partkey").alias("partkey"), "rev_e4")
        .orderBy(F.desc("rev_e4"), "partkey")
    )


@_register(
    "q71_min_acctbal_supplier",
    """
    WITH mn AS (
      SELECT s_nationkey, MIN(CAST(s_acctbal AS DECIMAL(12,2))) AS m
      FROM supplier GROUP BY s_nationkey
    )
    SELECT r.r_name AS region, n.n_name AS nation,
           s.s_suppkey AS suppkey, s.s_name AS supplier,
           CAST(CAST(s.s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_c
    FROM supplier s
    JOIN mn ON mn.s_nationkey = s.s_nationkey
           AND CAST(s.s_acctbal AS DECIMAL(12,2)) = mn.m
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    ORDER BY region, nation, suppkey
    """,
    "TPC-H Q2 shape: correlated-MIN subquery decorrelated into a per-group "
    "aggregate joined back on (group key, min value) — ties all survive, as "
    "in the reference query. Both the min table and the snowflake dims "
    "broadcast; the supplier scan never shuffles",
)
def q71(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    bal = F.col("s_acctbal").cast(DEC2)
    mn = s.groupBy(F.col("s_nationkey").alias("mn_nationkey")).agg(
        F.min(bal).alias("m")
    )
    return (
        s.join(
            F.broadcast(mn),
            (F.col("s_nationkey") == F.col("mn_nationkey")) & (bal == F.col("m")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier"),
            (bal * 100).cast("bigint").alias("acctbal_c"),
        )
        .orderBy("region", "nation", "suppkey")
    )


@_register(
    "q72_top_revenue_supplier",
    """
    WITH r AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
               AS rev_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), m AS (SELECT MAX(rev_e4) AS mx FROM r)
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier, r.rev_e4
    FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey, m
    WHERE r.rev_e4 = m.mx
    ORDER BY suppkey
    """,
    "TPC-H Q15 shape: revenue view + select-where-equal-to-global-MAX. "
    "Tie-safe by construction (all maxima survive; exact integer revenue "
    "means no float-equality hazard). The max is a broadcast scalar over "
    "the already-aggregated view — no second fact scan",
)
def q72(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    r = li.groupBy("l_suppkey").agg(
        (F.sum(rev) * 10000).cast("bigint").alias("rev_e4")
    )
    # global max via an unpartitioned window over the per-supplier
    # aggregate (|suppkey| rows) — one fact scan, not two.
    mx = F.max("rev_e4").over(Window.partitionBy())
    return (
        r.withColumn("_mx", mx)
        .filter(F.col("rev_e4") == F.col("_mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier"),
            "rev_e4",
        )
        .orderBy("suppkey")
    )


@_register(
    "q73_lone_late_shipper",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      GROUP BY 1, 2
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1, 2
    ORDER BY numwait DESC, suppkey
    LIMIT 20
    """,
    "TPC-H Q21 shape: EXISTS + NOT EXISTS correlated self-joins (the oracle "
    "form) — suppliers who were the ONLY late shipper (ship > order date + "
    "90d; the data has no commit/receipt dates) in a multi-supplier finished "
    "order. The Spark plan uses the classic decorrelation instead of literal "
    "semi/anti self-joins (which would compute `late` twice and broadcast a "
    "fact projection): two per-order aggregates, both hash-partitioned on "
    "l_orderkey, joined exchange-free — EXISTS becomes n_supps >= 2, NOT "
    "EXISTS becomes n_late_supps = 1, and the lone supplier is MIN(supp) "
    "of a 1-element set. One fact scan per aggregate, no self-broadcast",
)
def q73(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = _t(spark, sf_dir, "supplier")
    late_per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_late_supps"),
            F.min("l_suppkey").alias("late_suppkey"),
        )
        .filter(F.col("n_late_supps") == 1)
    )
    supps_per_order = (
        li.groupBy(F.col("l_orderkey").alias("all_orderkey"))
        .agg(F.countDistinct("l_suppkey").alias("n_supps"))
        .filter(F.col("n_supps") >= 2)
    )
    lone = late_per_order.join(
        supps_per_order, F.col("l_orderkey") == F.col("all_orderkey")
    )
    return (
        lone.groupBy("late_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("late_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier"),
            "numwait",
        )
        .orderBy(F.desc("numwait"), "suppkey")
        .limit(20)
    )


@_register(
    "q74_market_share",
    """
    WITH y AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS year,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
               AS total_e4,
             CAST(SUM(CASE WHEN ns.n_name = 'NATION_2'
                           THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                           ELSE 0 END) * 10000 AS BIGINT) AS nation_e4
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey AND r.r_name = 'ASIA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      GROUP BY 1
    )
    SELECT year, total_e4, nation_e4,
           nation_e4 * 10000 // total_e4 AS share_bp
    FROM y ORDER BY year
    """,
    "TPC-H Q8 shape: market share — one supplier nation's revenue fraction "
    "per year within one consumer region. 6-way snowflake with TWO roles "
    "for nation (customer side filters via region; supplier side feeds the "
    "CASE); the share CASE rides inside the partial aggregate, share as "
    "integer basis points",
)
def q74(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_nationkey"),
        F.col("n_regionkey").alias("nc_regionkey"),
    )
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_nationkey"),
        F.col("n_name").alias("ns_name"),
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    nation_rev = F.when(F.col("ns_name") == "NATION_2", rev).otherwise(
        F.lit(0).cast(DEC2)
    )
    y = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_nationkey"))
        .join(F.broadcast(r), F.col("nc_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("year"))
        .agg(
            (F.sum(rev) * 10000).cast("bigint").alias("total_e4"),
            (F.sum(nation_rev) * 10000).cast("bigint").alias("nation_e4"),
        )
    )
    return y.select(
        "year",
        "total_e4",
        "nation_e4",
        F.expr("nation_e4 * 10000 DIV total_e4").alias("share_bp"),
    ).orderBy("year")


@_register(
    "q75_returned_items",
    """
    SELECT c.c_custkey AS custkey, c.c_name AS customer, n.n_name AS nation,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) * 10000 AS BIGINT)
             AS lost_e4
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY lost_e4 DESC, custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue ranking — date-windowed orders "
    "join returned lineitems, customer + nation dims broadcast, top-20 by "
    "exact integer lost revenue with unique custkey tie-break",
)
def q75(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(rev) * 10000).cast("bigint").alias("lost_e4"),
        )
        .orderBy(F.desc("lost_e4"), "custkey")
        .limit(20)
    )


@_register(
    "q76_keyword_search",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    )
    SELECT doc_id, COUNT(DISTINCT token) AS n_match, COUNT(*) AS total_tf
    FROM toks WHERE token IN ('spark', 'join', 'window')
    GROUP BY doc_id
    ORDER BY n_match DESC, total_tf DESC, doc_id
    LIMIT 10
    """,
    "lexical retrieval, integer-deterministic ranking: (#distinct query "
    "terms present, total tf, doc id). The float-scored BM25 counterpart "
    "(operators/retrieval.py::bm25_topk) is NumPy-validated in "
    "test_retrieval.py — floats deliberately stay out of the hash gate",
)
def q76(spark, sf_dir):
    from kubenetmon_spark.operators.retrieval import keyword_topk

    d = _t(spark, sf_dir, "documents")
    return keyword_topk(d, ["spark", "join", "window"], k=10)


@_register(
    "q77_inverted_index",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ), per_doc AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks
      WHERE token != '' GROUP BY 1, 2
    )
    SELECT token, COUNT(*) AS n_docs, CAST(SUM(tf) AS BIGINT) AS total_tf,
           to_json(list(doc_id ORDER BY doc_id)) AS postings
    FROM per_doc GROUP BY token HAVING COUNT(*) >= 50
    ORDER BY token
    """,
    "inverted-index build: term -> (doc frequency, collection tf, sorted "
    "posting list). Postings serialize to canonical JSON so the array is "
    "hash-comparable across engines; min_docs=50 mirrors a stop-list-"
    "free index over the driver corpus's dense vocabulary",
)
def q77(spark, sf_dir):
    from kubenetmon_spark.operators.retrieval import build_inverted_index

    d = _t(spark, sf_dir, "documents")
    return (
        build_inverted_index(d, min_docs=50)
        .select(
            "token",
            "n_docs",
            "total_tf",
            F.to_json("postings").alias("postings"),
        )
        .orderBy("token")
    )


@_register(
    "q78_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0, greatest(len(toks) - 1, 0), 48)) AS start
      FROM t WHERE len(toks) > 0 AND toks[1] != ''
    )
    SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_idx,
           CAST(LEAST(64, n - start) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk
    FROM s
    """,
    "document chunking into overlapping token windows (window 64, overlap "
    "16): explode of a computed offset sequence — no shuffle, output "
    "volume predictable from token counts. Chunk text itself is part of "
    "the hash gate",
)
def q78(spark, sf_dir):
    from kubenetmon_spark.operators.curation import chunk_documents

    d = _t(spark, sf_dir, "documents")
    c = chunk_documents(d, window=64, overlap=16)
    return c.select(
        "doc_id",
        "chunk_idx",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "chunk",
    )


@_register(
    "q79_pack_sequences",
    """
    WITH d AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, source, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                   - n_tokens) // 512 AS BIGINT) AS bin
      FROM d
    )
    SELECT source, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM b GROUP BY source, bin
    ORDER BY source, bin
    """,
    "concat-then-split sequence packing into 512-token bins, per source "
    "shard: one windowed cumulative sum partitioned by shard (never a "
    "global sort), bin = tokens-before // budget. Oversized docs keep "
    "their bin (overflow), as in training packers",
)
def q79(spark, sf_dir):
    from kubenetmon_spark.operators.curation import pack_greedy

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    packed = pack_greedy(
        d, budget=512, token_col="n_tokens", order_col="doc_id", shard_col="source"
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "bin")
    )


@_register(
    "q80_mixture_sample",
    """
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE source WHEN 'src0' THEN '8000'
                      WHEN 'src1' THEN '4000'
                      WHEN 'src2' THEN '2000'
                      WHEN 'src3' THEN '0ccc'
                      ELSE '0666' END
    GROUP BY source ORDER BY source
    """,
    "per-source mixture sampling: deterministic md5 threshold per stratum "
    "(50%/25%/12.5%/5%, default 2.5%) — a narrow filter on the scan; "
    "changing one source's rate never reshuffles another source's sample",
)
def q80(spark, sf_dir):
    from kubenetmon_spark.operators.curation import mixture_sample

    d = _t(spark, sf_dir, "documents")
    kept = mixture_sample(
        d,
        rates_bp={"src0": 5000, "src1": 2500, "src2": 1250, "src3": 500},
        stratum_col="source",
        id_col="doc_id",
        default_bp=250,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("source")
    )


@_register(
    "q81_contamination",
    """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    csh AS (
      SELECT DISTINCT doc_id AS corpus_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(a) - 2, 0)),
        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
            FROM corpus)
    ), bsh AS (
      SELECT DISTINCT doc_id AS bench_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(a) - 2, 0)),
        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
            FROM bench)
    ), bsz AS (SELECT bench_id, COUNT(*) AS bench_total FROM bsh GROUP BY 1),
    inter AS (
      SELECT corpus_id, bench_id, COUNT(*) AS shared
      FROM csh JOIN bsh USING (shingle) GROUP BY 1, 2
    )
    SELECT corpus_id, bench_id, shared, bench_total,
           shared * 10000 // bench_total AS containment_bp
    FROM inter JOIN bsz USING (bench_id)
    WHERE shared * 10000 // bench_total >= 250
    ORDER BY corpus_id, bench_id
    """,
    "benchmark decontamination: asymmetric n-gram containment (shared / "
    "|benchmark shingles|, basis points) of a deterministic eval subset "
    "(doc_id % 97 = 0) inside the remaining corpus. Benchmark shingles "
    "broadcast -> zero corpus-side shuffle before the match-count agg",
)
def q81(spark, sf_dir):
    from kubenetmon_spark.operators.contamination import contamination_pairs

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return contamination_pairs(
        corpus, bench, "doc_id", "text", n=3, threshold_bp=250
    ).orderBy("corpus_id", "bench_id")


@_register(
    "q82_moment_profile",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_e2,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
                * 10000 AS BIGINT) AS sumsq_e4,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS min_e2,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS max_e2
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "exact algebraic moment sums (the core of ClickHouse's varSamp/"
    "avg surface) as integers — variance/mean derive driver-side; the "
    "distributed aggregation never touches a float, so results are "
    "identical under any shuffle order",
)
def q82(spark, sf_dir):
    from kubenetmon_spark.operators.agg import exact_moments

    ev = _t(spark, sf_dir, "events")
    return exact_moments(ev, "value", ["event_type"]).orderBy("event_type")


@_register(
    "q83_value_histogram",
    """
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 2500 AS bucket,
           COUNT(*) AS n
    FROM events GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    "fixed-width histogram (25.00-unit buckets) via integer floor "
    "division — shuffle key cardinality = groups x buckets, independent "
    "of row count",
)
def q83(spark, sf_dir):
    from kubenetmon_spark.operators.agg import width_bucket_histogram

    ev = _t(spark, sf_dir, "events")
    return width_bucket_histogram(
        ev, "value", ["event_type"], bucket_width_e2=2500
    ).orderBy("event_type", "bucket")


@_register(
    "q84_window_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS t
      FROM events
    ),
    base AS (
      SELECT DISTINCT user_id FROM e
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    l2 AS (
      SELECT DISTINCT a.user_id
      FROM e a JOIN e b ON a.user_id = b.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND b.t > a.t AND b.t - a.t <= 21600
    ),
    l3 AS (
      SELECT DISTINCT a.user_id
      FROM e a
      JOIN e b ON a.user_id = b.user_id
      JOIN e c ON a.user_id = c.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND c.event_type = 'purchase'
        AND b.t > a.t AND c.t > b.t AND c.t - a.t <= 21600
    )
    SELECT b.user_id,
           CAST(CASE WHEN b.user_id IN (SELECT user_id FROM l3) THEN 3
                     WHEN b.user_id IN (SELECT user_id FROM l2) THEN 2
                     WHEN b.user_id IN (SELECT user_id FROM l1) THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_level
    FROM base b ORDER BY user_id
    """,
    "ClickHouse windowFunnel analogue: per-user max funnel depth for "
    "view->click->purchase with every step within 6h of the first and "
    "strictly increasing timestamps. Spark side is the one-shuffle "
    "Arrow DP of operators/funnel.py; the oracle states the same "
    "semantics declaratively as EXISTS-chains (provably equivalent — "
    "see the operator docstring's exchange argument)",
)
def q84(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import window_funnel

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    return window_funnel(
        ev, ["view", "click", "purchase"], window_seconds=21600
    ).orderBy("user_id")


@_register(
    "q85_sequence_count",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS t
      FROM events
    )
    SELECT t.user_id, COUNT(*) AS n_conversions
    FROM e t
    WHERE t.event_type = 'purchase' AND EXISTS (
      SELECT 1 FROM e f
      WHERE f.user_id = t.user_id AND f.event_type = 'view'
        AND f.t < t.t AND t.t - f.t <= 21600
    )
    GROUP BY t.user_id ORDER BY t.user_id
    """,
    "ClickHouse sequenceCount two-step shape: purchases with a view "
    "strictly before them within 6h. Spark side is pure built-ins — a "
    "rangeBetween window over integer microseconds (exact strictness, "
    "no Python); oracle is the set-wise EXISTS definition",
)
def q85(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import sequence_count

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.date_trunc("second", "ts"))
    return sequence_count(ev, "view", "purchase", window_seconds=21600).orderBy(
        "user_id"
    )


@_register(
    "q86_behavior_signature",
    """
    WITH s AS (
      SELECT user_id,
             array_to_string(list_sort(list(DISTINCT event_type)), ',') AS signature
      FROM events GROUP BY user_id
    )
    SELECT signature, COUNT(*) AS n_users, MIN(user_id) AS min_user
    FROM s GROUP BY signature ORDER BY signature
    """,
    "ordered set aggregation (ClickHouse groupUniqArray + "
    "arrayStringConcat): per-user sorted distinct event-type signature, "
    "then users per signature — two-level aggregation where the inner "
    "key is an array-valued aggregate made deterministic by sorting",
)
def q86(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sig = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "signature"
        )
    )
    return (
        sig.groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").alias("min_user"),
        )
        .orderBy("signature")
    )


@_register(
    "q87_argmax",
    """
    WITH k AS (
      SELECT event_type, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 1000000000000 + event_id AS key
      FROM events
    )
    SELECT event_type,
           arg_max(user_id, key) AS top_user,
           arg_min(user_id, key) AS bottom_user,
           CAST(MAX(key) // 1000000000000 AS BIGINT) AS max_value_e2
    FROM k GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse argMax/argMin surface via Spark max_by/min_by. The "
    "ordering key packs (value_e2, event_id) into one int64 so ties "
    "break identically in any engine — float comparators never decide",
)
def q87(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    key = (
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        * F.lit(1_000_000_000_000).cast("long")
        + F.col("event_id")
    ).alias("key")
    k = ev.select("event_type", "user_id", key)
    return (
        k.groupBy("event_type")
        .agg(
            F.max_by("user_id", F.col("key")).alias("top_user"),
            F.min_by("user_id", F.col("key")).alias("bottom_user"),
            F.max("key").alias("_mk"),
        )
        .select(
            "event_type",
            "top_user",
            "bottom_user",
            F.expr("_mk div 1000000000000").alias("max_value_e2"),
        )
        .orderBy("event_type")
    )


@_register(
    "q88_fuzzy_pairs",
    """
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS typ FROM part
    )
    SELECT a.typ AS block,
           COUNT(*) AS n_close_pairs,
           CAST(MIN(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_d,
           CAST(SUM(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS sum_d,
           MIN(a.p_partkey * 10000000 + b.p_partkey) AS min_pair
    FROM p a JOIN p b
      ON a.typ = b.typ AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    GROUP BY a.typ ORDER BY block
    """,
    "fuzzy record linkage: blocked edit-distance self-join on part names "
    "(block = part type token). Spark side runs the length-band prefilter "
    "+ threshold-bounded 3-arg levenshtein of operators/fuzzy.py; the "
    "oracle recomputes every surviving distance exactly",
)
def q88(spark, sf_dir):
    from kubenetmon_spark.operators.fuzzy import blocked_levenshtein_pairs

    p = _t(spark, sf_dir, "part")
    pairs = blocked_levenshtein_pairs(
        p,
        id_col="p_partkey",
        text_col="p_name",
        block_col=F.element_at(F.split("p_name", " "), 2),
        max_distance=3,
    )
    return (
        pairs.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_close_pairs"),
            F.min("distance").alias("min_d"),
            F.sum("distance").alias("sum_d"),
            F.min(F.col("a_id") * 10000000 + F.col("b_id")).alias("min_pair"),
        )
        .orderBy("block")
    )


_Q89_BASE = (
    "(SELECT vec_id, embedding FROM embeddings "
    "UNION ALL "
    "SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 30)"
)


def _q89_oracle_sql() -> str:
    cos = (
        f"({_DOT.format(a='a.embedding', b='b.embedding')}) / "
        f"(sqrt({_DOT.format(a='a.embedding', b='a.embedding')}) * "
        f"sqrt({_DOT.format(a='b.embedding', b='b.embedding')}))"
    )
    return f"""
    WITH {kmeans_exact_ctes(8, 5, 64, 10_000, _Q89_BASE)},
    base AS (SELECT * FROM {_Q89_BASE} t),
    asn AS (
      SELECT a6.vec_id, a6.cl, base.embedding
      FROM a6 JOIN base ON base.vec_id = a6.vec_id
      WHERE a6.rk = 1
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM asn a JOIN asn b
        ON a.cl = b.cl AND b.vec_id < a.vec_id
      WHERE {cos} >= 0.9
    )
    SELECT cl AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM dropped)
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM asn GROUP BY cl ORDER BY cluster
    """


@_register(
    "q89_semantic_dedup",
    _q89_oracle_sql(),
    "SemDeDup (cluster-scoped cosine pruning) with planted duplicates: "
    "exact-integer k-means bucketing (kmeans_fit_exact — deterministic "
    "across engines/partitionings) keeps the quadratic similarity term "
    "local to a cluster; 30 planted copies (cosine 1.0) must be pruned "
    "while every organic pair (max cosine ~0.6, wide margin to the 0.9 "
    "threshold) survives. The oracle unrolls the same integer Lloyd "
    "recurrence and applies the no-earlier-conflict rule — equal to "
    "the operator's greedy rule whenever the conflict graph is "
    "disjoint original/copy pairs, which the planted layout guarantees",
)
def q89(spark, sf_dir):
    from kubenetmon_spark.operators.clustering import (
        kmeans_assign_exact,
        kmeans_fit_exact,
    )
    from kubenetmon_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    base = emb.unionByName(copies)
    cents = kmeans_fit_exact(base, k=8, n_iter=5)
    assigned = kmeans_assign_exact(base, cents)
    pruned = semantic_dedup(base, cents, threshold=0.9, assigned=assigned)
    return (
        pruned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .orderBy("cluster")
    )


@_register(
    "q90_exp_moving_avg",
    """
    WITH o AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             epoch(date_trunc('second', ts)) AS t, event_id
      FROM events
    )
    SELECT user_id, COUNT(*) AS n,
           CAST(list_reduce(list(x ORDER BY t, event_id),
                            (a, b) -> (a + b) // 2) AS BIGINT) AS ema_e2
    FROM o GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse exponentialMovingAverage analogue, made engine-exact: "
    "alpha=1/2 EMA as an integer floor-fold over the per-user "
    "time-ordered value sequence — floor((acc+x)/2) at every step, so "
    "no float accumulation anywhere. Spark folds with aggregate() over "
    "a sorted collect_list (per-user arrays are micro-batch sized); the "
    "oracle folds with DuckDB's list_reduce over an ordered list",
)
def q90(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        F.col("ts").cast("long").alias("t"),
        "event_id",
    )
    arr = F.array_sort(F.collect_list(F.struct("t", "event_id", "x")))
    per_user = o.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), arr.alias("_arr")
    )
    xs = F.transform(F.col("_arr"), lambda s: s["x"])
    ema = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: F.shiftright(acc + x, 1),
    )
    return per_user.select(
        "user_id", "n", ema.cast("long").alias("ema_e2")
    ).orderBy("user_id")


@_register(
    "q91_weighted_avg",
    """
    WITH o AS (
      SELECT event_type, user_id % 5 + 1 AS w,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    )
    SELECT event_type,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(w * x) AS BIGINT) AS sum_wx_e2,
           CAST(SUM(w * x) // SUM(w) AS BIGINT) AS wavg_e2
    FROM o GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse avgWeighted surface: integer weighted sums with an "
    "exact floor-division ratio — associative, order-independent, "
    "identical under any shuffle",
)
def q91(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("user_id") % 5 + 1).alias("w"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return (
        o.groupBy("event_type")
        .agg(
            F.sum("w").alias("sum_w"),
            F.sum(F.col("w") * F.col("x")).alias("sum_wx_e2"),
        )
        .select(
            "event_type",
            "sum_w",
            "sum_wx_e2",
            F.expr("sum_wx_e2 div sum_w").alias("wavg_e2"),
        )
        .orderBy("event_type")
    )


@_register(
    "q92_array_analytics",
    """
    WITH d AS (
      SELECT source, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    per_doc AS (
      SELECT source,
             len(toks) AS n_toks,
             list_sum(list_transform(toks, s -> length(s))) AS sum_len,
             list_max(list_transform(toks, s -> length(s))) AS max_len,
             len(list_filter(toks, s -> length(s) > 4)) AS n_long
      FROM d
    )
    SELECT source, CAST(SUM(n_toks) AS BIGINT) AS total_toks,
           CAST(SUM(sum_len) AS BIGINT) AS total_len,
           CAST(MAX(max_len) AS BIGINT) AS max_tok_len,
           CAST(SUM(n_long) AS BIGINT) AS total_long
    FROM per_doc GROUP BY source ORDER BY source
    """,
    "array higher-order-function surface parity (ClickHouse arrayMap/"
    "arrayFilter/arraySum): transform/filter/aggregate over token "
    "arrays, mirrored by DuckDB list lambdas. Integer outputs only. "
    "Per the interpreted-HOF rule these stay on short per-row arrays; "
    "corpus-scale loops belong in Arrow stages (see operators/text.py)",
)
def q92(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lens = F.transform(toks, F.length)
    per_doc = d.select(
        "source",
        F.size(toks).cast("long").alias("n_toks"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).cast("long").alias("sum_len"),
        F.array_max(lens).cast("long").alias("max_len"),
        F.size(F.filter(toks, lambda s: F.length(s) > 4)).cast("long").alias("n_long"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_toks").alias("total_toks"),
            F.sum("sum_len").alias("total_len"),
            F.max("max_len").alias("max_tok_len"),
            F.sum("n_long").alias("total_long"),
        )
        .orderBy("source")
    )


@_register(
    "q93_replacing_latest",
    """
    WITH v AS (
      SELECT user_id, event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    )
    SELECT user_id, event_type,
           MAX(event_id) AS event_id,
           arg_max(x, event_id) AS x
    FROM v GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    "ReplacingMergeTree merge contract: highest-version row wins per "
    "key (version = event_id, unique so ties cannot occur). One hash "
    "aggregation via a packed (version, payload) struct max — "
    "operators/mergetree.py::replacing_aggregate",
)
def q93(spark, sf_dir):
    from kubenetmon_spark.operators.mergetree import replacing_aggregate

    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return replacing_aggregate(
        v, ["user_id", "event_type"], version_col="event_id"
    ).orderBy("user_id", "event_type")


@_register(
    "q94_collapsing_state",
    """
    WITH s AS (
      SELECT user_id, event_type,
             CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS sign,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    )
    SELECT user_id, event_type,
           CAST(SUM(sign * x) AS BIGINT) AS net_x,
           COUNT(*) AS n_rows
    FROM s GROUP BY user_id, event_type
    HAVING SUM(sign) > 0
    ORDER BY user_id, event_type
    """,
    "CollapsingMergeTree read contract: sign-weighted sums with the "
    "HAVING sum(sign) > 0 guard baked into the operator so cancelled "
    "keys vanish — operators/mergetree.py::collapsing_aggregate "
    "(sign simulated from event_id parity; integer sums, exact)",
)
def q94(spark, sf_dir):
    from kubenetmon_spark.operators.mergetree import collapsing_aggregate

    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 3 == 0, -1).otherwise(1).alias("sign"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return collapsing_aggregate(
        s, ["user_id", "event_type"], sign_col="sign", value_cols=["x"]
    ).orderBy("user_id", "event_type")


@_register(
    "q95_retention",
    """
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c0,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(c0) AS BIGINT) AS kept_1,
           CAST(SUM(c0 * c1) AS BIGINT) AS kept_2,
           CAST(SUM(c0 * c2) AS BIGINT) AS kept_3,
           COUNT(*) AS cohort_users
    FROM per_user
    """,
    "ClickHouse retention() aggregate: anchor condition gates every "
    "later flag (no time ordering, per CH contract) — "
    "operators/funnel.py::retention, one map-side-combined hash agg",
)
def q95(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import retention

    ev = _t(spark, sf_dir, "events")
    per_user = retention(
        ev,
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "view",
            F.col("event_type") == "purchase",
        ],
    )
    return per_user.agg(
        F.sum("r1").alias("kept_1"),
        F.sum("r2").alias("kept_2"),
        F.sum("r3").alias("kept_3"),
        F.count(F.lit(1)).alias("cohort_users"),
    )


@_register(
    "q96_sequence_match",
    """
    WITH s AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM s),
    t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM s
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
      SELECT s.user_id, MIN(s.ts) AS ts2 FROM s JOIN t1 USING (user_id)
      WHERE s.event_type = 'click' AND s.ts > t1.ts1 GROUP BY s.user_id
    ),
    t3 AS (
      SELECT s.user_id, MIN(s.ts) AS ts3 FROM s JOIN t2 USING (user_id)
      WHERE s.event_type = 'purchase' AND s.ts > t2.ts2 GROUP BY s.user_id
    )
    SELECT u.user_id, (t3.user_id IS NOT NULL) AS matched
    FROM u LEFT JOIN t3 ON u.user_id = t3.user_id
    ORDER BY u.user_id
    """,
    "ClickHouse sequenceMatch('(?1).*(?2).*(?3)'): ordered existence "
    "with strictly increasing timestamps — "
    "operators/funnel.py::sequence_match (window_funnel with unbounded "
    "window; oracle uses the greedy-earliest chain, equivalent for "
    "existence)",
)
def q96(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import sequence_match

    ev = _t(spark, sf_dir, "events")
    return sequence_match(ev, ["signup", "click", "purchase"]).orderBy(
        "user_id"
    )


@_register(
    "q97_delta_sum",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    d AS (
      SELECT user_id,
             x - LAG(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dx
      FROM o
    )
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN dx > 0 THEN dx END), 0) AS BIGINT)
             AS delta_sum
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse deltaSum: positive consecutive differences in time "
    "order, integer cents — operators/timeseries.py::delta_sum, one "
    "shuffle+sort, lag+sum in a single window pass",
)
def q97(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import delta_sum

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return delta_sum(
        o, ["user_id"], "ts", "x", "event_id", out_col="delta_sum"
    ).orderBy("user_id")


@_register(
    "q98_sum_map",
    """
    WITH e AS (
      SELECT user_id % 10 AS grp, event_type AS k,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    pk AS (SELECT grp, k, SUM(v) AS s FROM e GROUP BY grp, k)
    SELECT grp,
           '{' || string_agg('"' || k || '":' || s, ',' ORDER BY k) || '}'
             AS sum_map_json,
           COUNT(*) AS n_keys
    FROM pk GROUP BY grp ORDER BY grp
    """,
    "ClickHouse sumMap over a map column (the connectionFlags shape, "
    "network_flows_0.sql:9) — operators/agg.py::map_aggregate; "
    "key-sorted entries serialize to a canonical JSON string built by "
    "the same recipe in both engines",
)
def q98(spark, sf_dir):
    from kubenetmon_spark.operators.agg import map_aggregate

    ev = _t(spark, sf_dir, "events")
    mapped = ev.select(
        (F.col("user_id") % 10).alias("grp"),
        F.create_map(
            F.col("event_type"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("m"),
    )
    agg = map_aggregate(mapped, "m", ["grp"], how="sum", out_col="sum_map")
    ents = F.map_entries(F.col("sum_map"))
    as_json = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                ents,
                lambda e: F.concat(
                    F.lit('"'), e["key"], F.lit('":'), e["value"].cast("string")
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )
    return agg.select(
        "grp",
        as_json.alias("sum_map_json"),
        F.size(ents).cast("long").alias("n_keys"),
    ).orderBy("grp")


@_register(
    "q99_moving_sum",
    """
    WITH o AS (
      SELECT user_id, event_id, ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(x) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS msum3
    FROM o ORDER BY user_id, event_id
    """,
    "ClickHouse groupArrayMovingSum(3): per-key moving sum over the "
    "last 3 time-ordered values — native rowsBetween window, integer "
    "cents, unique (ts, event_id) total order in both engines",
)
def q99(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        o.select(
            "user_id",
            "event_id",
            F.sum("x").over(w).cast("long").alias("msum3"),
        )
        .orderBy("user_id", "event_id")
    )


@_register(
    "q100_lttb_downsample",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY epoch(date_trunc('second', ts)), event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    bkt AS (
      SELECT *,
             CASE WHEN rn = 1 THEN 0
                  WHEN rn = n THEN 11
                  ELSE CAST(FLOOR(((rn - 2) * 10) / GREATEST(n - 2, 1)) AS BIGINT) + 1
             END AS b
      FROM pts
    ),
    sums AS (
      SELECT event_type, b, SUM(t) AS st, SUM(v) AS sv, COUNT(*) AS c
      FROM bkt GROUP BY event_type, b
    ),
    anch AS (
      SELECT event_type, b,
             LAG(st) OVER w AS pt, LAG(sv) OVER w AS pv, LAG(c) OVER w AS pc,
             LEAD(st) OVER w AS nt, LEAD(sv) OVER w AS nv, LEAD(c) OVER w AS nc
      FROM sums
      WINDOW w AS (PARTITION BY event_type ORDER BY b)
    ),
    mid AS (
      SELECT k.event_type, k.b, k.t, k.v, k.event_id, k.rn,
             ABS((a.pt::HUGEINT - a.pc::HUGEINT * k.t)
                   * (a.nv::HUGEINT - a.nc::HUGEINT * k.v)
               - (a.nt::HUGEINT - a.nc::HUGEINT * k.t)
                   * (a.pv::HUGEINT - a.pc::HUGEINT * k.v)) AS a2
      FROM bkt k JOIN anch a ON k.event_type = a.event_type AND k.b = a.b
      WHERE k.b > 0 AND k.b < 11
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type, b ORDER BY a2 DESC, rn ASC
      ) AS pick
      FROM mid
    )
    SELECT event_type, b AS bucket, t, v, event_id
    FROM ranked WHERE pick = 1
    UNION ALL
    SELECT event_type, b AS bucket, t, v, event_id
    FROM bkt WHERE b IN (0, 11)
    ORDER BY event_type, bucket
    """,
    "ClickHouse largestTriangleThreeBuckets: 12-bucket downsample per "
    "event_type series; parallel variant anchoring on neighbor-bucket "
    "averages, argmax over exact int64 cross products (scaled by both "
    "bucket counts so no division) — "
    "operators/timeseries.py::lttb_downsample",
)
def q100(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import lttb_downsample

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.col("ts").cast("long").alias("t"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
        "event_id",
    )
    out = lttb_downsample(o, ["event_type"], "t", "v", 12, "event_id")
    return out.select(
        "event_type",
        "bucket",
        "t",
        "v",
        "event_id",
    ).orderBy("event_type", "bucket")


@_register(
    "q101_duplicate_spans",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x != '') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span
      FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    counts AS (SELECT span, COUNT(*) AS c FROM spans GROUP BY span),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM spans s JOIN counts c USING (span)
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_spans, n_dup_spans,
           n_dup_spans * 10000 // n_spans AS dup_bp
    FROM per_doc
    ORDER BY doc_id
    """,
    "Span-level duplication audit (Lee et al. 2022 repeated-substring "
    "filter, relational form): fraction of each doc's 8-token spans "
    "occurring >=2 times corpus-wide — "
    "operators/dedup.py::duplicate_span_fraction",
)
def q101(spark, sf_dir):
    from kubenetmon_spark.operators.dedup import duplicate_span_fraction

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_fraction(docs, "doc_id", "text", n=8).orderBy(
        "doc_id"
    )


@_register(
    "q102_url_functions",
    """
    WITH u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'www.' || source || '.example.com/docs/' || doc_id
                  ELSE 'https://' || source || '.example.com:8443/docs/'
                       || doc_id || '?lang=' || lang || '&p=' || doc_id % 7
                       || '#frag'
             END AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)
             AS proto,
           regexp_extract(url,
             '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)
             AS host,
           regexp_extract(regexp_extract(url,
             '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1),
             '\\.([^.]+)$', 1) AS tld,
           regexp_extract(url,
             '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*(/[^?#]*)', 1)
             AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS qs,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(url, '^([^?#]*)', 1) AS no_query
    FROM u ORDER BY doc_id
    """,
    "ClickHouse URL-function family (protocol/domain/topLevelDomain/"
    "path/queryString/extractURLParameter/cutQueryString) over "
    "synthesized URLs incl. scheme-less, port, userinfo-free, fragment "
    "cases — functions/url.py, pure regexp_extract compositions",
)
def q102(spark, sf_dir):
    from kubenetmon_spark.functions.url import (
        cut_query_string,
        domain,
        protocol,
        query_string,
        top_level_domain,
        url_param,
        url_path,
    )

    docs = _t(spark, sf_dir, "documents")
    url = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("www."),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com:8443/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
            F.lit("&p="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("#frag"),
        )
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        protocol("url").alias("proto"),
        domain("url").alias("host"),
        top_level_domain("url").alias("tld"),
        url_path("url").alias("path"),
        query_string("url").alias("qs"),
        url_param("url", "lang").alias("lang_param"),
        cut_query_string("url").alias("no_query"),
    ).orderBy("doc_id")


@_register(
    "q103_source_quota",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM ranked WHERE rk <= 7
    GROUP BY source ORDER BY source
    """,
    "Per-source quota cap (ClickHouse LIMIT k BY group): keep at most "
    "7 docs per source, picked by the deterministic md5(doc_id) order "
    "— operators/curation.py::cap_per_group; summarized per source so "
    "the value-hash pins exactly WHICH rows survived",
)
def q103(spark, sf_dir):
    from kubenetmon_spark.operators.curation import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    kept = cap_per_group(docs, ["source"], 7, "doc_id")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source")
    )


@_register(
    "q104_weighted_quantile",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             user_id % 5 + 1 AS w
      FROM events
    ),
    c AS (
      SELECT event_type, x, w,
             SUM(w) OVER (PARTITION BY event_type ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY event_type) AS totw
      FROM o
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 25 THEN x END) AS BIGINT) AS p25,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 50 THEN x END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 90 THEN x END) AS BIGINT) AS p90
    FROM c GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse quantileExactWeighted: smallest value whose cumulative "
    "weight reaches p%% of total, integer-exact reach test — "
    "operators/agg.py::weighted_quantile_exact (one shuffle+sort, two "
    "frames over one Window pass, conditional-min agg)",
)
def q104(spark, sf_dir):
    from kubenetmon_spark.operators.agg import weighted_quantile_exact

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        (F.col("user_id") % 5 + 1).alias("w"),
    )
    return weighted_quantile_exact(
        o, ["event_type"], "x", "w", [25, 50, 90]
    ).orderBy("event_type")


@_register(
    "q105_agg_combinators",
    """
    SELECT event_type,
           CAST(COUNT(CASE WHEN value > 50 THEN 1 END) AS BIGINT)
             AS count_if_hi,
           CAST(COALESCE(SUM(CASE WHEN user_id % 2 = 0
                 THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 END), 0) AS BIGINT) AS sum_if_even_e2,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_exact,
           CAST(LEAST(COUNT(DISTINCT user_id), 11) AS BIGINT) AS uniq_up_to_10,
           CAST(BIT_AND(user_id + 256) AS BIGINT) AS bits_and,
           CAST(BIT_OR(user_id) AS BIGINT) AS bits_or,
           CAST(BIT_XOR(user_id * 2654435761 % 1000000007) AS BIGINT)
             AS bits_xor
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse aggregate-combinator surface in one shape: countIf / "
    "sumIf (the -If combinator), uniqExact, uniqUpTo(10) (exact count "
    "capped at N+1), and groupBitAnd/Or/Xor — all native Spark "
    "aggregates (count(when), sum(when), count_distinct, bit_and/or/"
    "xor), one hash aggregation with map-side combine",
)
def q105(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    x_e2 = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("value") > 50, 1)).alias("count_if_hi"),
            F.coalesce(
                F.sum(F.when(F.col("user_id") % 2 == 0, x_e2)), F.lit(0)
            ).alias("sum_if_even_e2"),
            F.count_distinct(F.col("user_id")).alias("uniq_exact"),
            F.least(F.count_distinct(F.col("user_id")), F.lit(11)).alias(
                "uniq_up_to_10"
            ),
            F.bit_and(F.col("user_id") + 256).alias("bits_and"),
            F.bit_or(F.col("user_id")).alias("bits_or"),
            F.bit_xor(
                F.col("user_id") * 2654435761 % 1000000007
            ).alias("bits_xor"),
        )
        .orderBy("event_type")
    )


@_register(
    "q106_any_left_join",
    """
    WITH pick AS (
      SELECT l_partkey, MIN(l_orderkey * 16 + l_linenumber) AS pk
      FROM lineitem GROUP BY l_partkey
    ),
    d AS (
      SELECT l.l_partkey,
             CAST(CAST(l.l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS any_qty_e2,
             l.l_returnflag AS any_flag
      FROM lineitem l
      JOIN pick p ON l.l_partkey = p.l_partkey
                 AND l.l_orderkey * 16 + l.l_linenumber = p.pk
    )
    SELECT pt.p_partkey, pt.p_brand, d.any_qty_e2, d.any_flag
    FROM part pt LEFT JOIN d ON pt.p_partkey = d.l_partkey
    ORDER BY pt.p_partkey
    """,
    "ClickHouse ANY LEFT JOIN strictness: at most one lineitem per "
    "part, picked by min packed (orderkey, linenumber) — "
    "operators/joins.py::any_left_join (right side dedupes via one "
    "min_by hash agg BEFORE the join, so the join can never explode)",
)
def q106(spark, sf_dir):
    from kubenetmon_spark.operators.joins import any_left_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("any_qty_e2"),
        F.col("l_returnflag").alias("any_flag"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("_pk"),
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = any_left_join(
        pt,
        li.select("p_partkey", "any_qty_e2", "any_flag", "_pk"),
        ["p_partkey"],
        F.col("_pk"),
        broadcast_right=False,
    )
    return joined.select(
        "p_partkey", "p_brand", "any_qty_e2", "any_flag"
    ).orderBy("p_partkey")


@_register(
    "q107_left_array_join",
    """
    WITH a AS (
      SELECT user_id,
             list_sort(list(DISTINCT event_type)
               FILTER (WHERE value > 99.5)) AS types
      FROM events GROUP BY user_id
    ),
    x AS (
      SELECT user_id,
             CASE WHEN types IS NULL OR len(types) = 0
                  THEN [NULL] ELSE types END AS types2
      FROM a
    )
    SELECT user_id, u.t AS event_type
    FROM x, UNNEST(types2) AS u(t)
    ORDER BY user_id, event_type
    """,
    "ClickHouse LEFT ARRAY JOIN: explode an array column but keep "
    "rows whose array is empty (NULL element) — native explode_outer "
    "over a collect_set; the oracle pads empties with [NULL] to mirror",
)
def q107(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_set(F.when(F.col("value") > 99.5, F.col("event_type")))
        ).alias("types")
    )
    return (
        a.select(
            "user_id", F.explode_outer("types").alias("event_type")
        ).orderBy("user_id", "event_type")
    )


@_register(
    "q108_range_frame",
    """
    WITH o AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    )
    SELECT user_id, event_id,
           COUNT(*) OVER w - 1 AS n_prev_1h,
           CAST(SUM(x) OVER w - x AS BIGINT) AS sum_prev_1h_e2
    FROM o
    WINDOW w AS (PARTITION BY user_id ORDER BY t
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    "value-based RANGE window frame: per event, how many events (and "
    "their value sum) the same user produced in the preceding hour — "
    "sliding lookback without a self-join; the frame includes ALL rows "
    "at the current timestamp then subtracts self, so equal-ts rows "
    "need no tie order (engine-portable). One shuffle+sort",
)
def q108(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("t"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-3600, Window.currentRow)
    )
    return o.select(
        "user_id",
        "event_id",
        (F.count(F.lit(1)).over(w) - 1).alias("n_prev_1h"),
        (F.sum("x").over(w) - F.col("x")).cast("long").alias("sum_prev_1h_e2"),
    ).orderBy("user_id", "event_id")


@_register(
    "q109_array_calculus",
    """
    WITH per_user AS (
      SELECT user_id,
             list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(xs) AS n,
           CAST(list_sum(list_transform(generate_series(1, len(xs)),
                i -> CASE WHEN i = 1 THEN 0 ELSE abs(xs[i] - xs[i-1]) END))
             AS BIGINT) AS total_variation_e2,
           CAST(list_sum(list_transform(generate_series(1, len(xs)),
                i -> CASE WHEN i = 1 OR xs[i] <> xs[i-1] THEN 1 ELSE 0 END))
             AS BIGINT) AS n_compacted,
           CAST(list_max(list_transform(generate_series(1, len(xs)),
                i -> CASE WHEN i = 1 THEN 0 ELSE xs[i] - xs[i-1] END))
             AS BIGINT) AS max_jump_e2
    FROM per_user ORDER BY user_id
    """,
    "ClickHouse array-calculus surface (arrayDifference, arrayCompact, "
    "running deltas) over per-user time-ordered value arrays: total "
    "variation, compacted length, max jump — Spark transform() with "
    "index lambdas over a sorted collect_list; DuckDB mirrors with "
    "list_transform over generate_series. Arrays are per-user sized "
    "(collect_list after the group shuffle), all integer-exact",
)
def q109(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        F.struct(
            # microseconds: the oracle's list(... ORDER BY ts) orders at
            # full timestamp precision, so the sort key must match it
            F.unix_micros(F.col("ts")).alias("t"), "event_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("x"),
        ).alias("s"),
    )
    per_user = o.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["x"]
        ).alias("xs")
    )
    xs = F.col("xs")
    idx = F.sequence(F.lit(1), F.size(xs))
    diffs = F.transform(
        idx,
        lambda i: F.when(i == 1, F.lit(0)).otherwise(
            F.abs(F.element_at(xs, i) - F.element_at(xs, i - 1))
        ),
    )
    compact = F.transform(
        idx,
        lambda i: F.when(
            (i == 1) | (F.element_at(xs, i) != F.element_at(xs, i - 1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    jumps = F.transform(
        idx,
        lambda i: F.when(i == 1, F.lit(0)).otherwise(
            F.element_at(xs, i) - F.element_at(xs, i - 1)
        ),
    )
    return per_user.select(
        "user_id",
        F.size(xs).cast("long").alias("n"),
        F.aggregate(diffs, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "total_variation_e2"
        ),
        F.aggregate(compact, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "n_compacted"
        ),
        F.array_max(jumps).cast("long").alias("max_jump_e2"),
    ).orderBy("user_id")


@_register(
    "q110_media_decode",
    """
    WITH src AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
    ),
    px AS (
      SELECT doc_id, k,
             ascii(substr(text, CAST((k * n) // 192 AS BIGINT) + 1, 1)) AS v,
             k % 3 AS c
      FROM src, UNNEST(range(0, 192)) AS u(k)
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN c = 0 THEN v END) * 100 // 64 AS BIGINT) AS mean_r_e2,
           CAST(SUM(CASE WHEN c = 1 THEN v END) * 100 // 64 AS BIGINT) AS mean_g_e2,
           CAST(SUM(CASE WHEN c = 2 THEN v END) * 100 // 64 AS BIGINT) AS mean_b_e2
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    "multimodal decode->feature path, driven END-TO-END via the "
    "deterministic fake codec: documents' UTF-8 bytes wrapped as "
    "binary media (media_from_text), nearest-neighbor 'decoded' to "
    "8x8x3 RGB in Arrow batches (decode_image codec='fake'), then "
    "per-channel integer means (mean_channel_features). The oracle "
    "replays the identical byte arithmetic in SQL (ASCII text = "
    "byte-per-char). A real codec replaces only the per-batch body — "
    "operators/media.py",
)
def q110(spark, sf_dir):
    from kubenetmon_spark.operators.media import (
        decode_image,
        mean_channel_features,
        media_from_text,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    media = media_from_text(docs)
    decoded = decode_image(media, out_width=8, out_height=8, codec="fake")
    feats = mean_channel_features(decoded)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "mean_r_e2",
        "mean_g_e2",
        "mean_b_e2",
    ).orderBy("doc_id")


@_register(
    "q111_rank_family",
    """
    WITH o AS (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, x,
             RANK() OVER w AS rk,
             ROW_NUMBER() OVER w AS le_cnt,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id)
    )
    SELECT user_id, event_id,
           CAST((rk - 1) * 10000 // GREATEST(n - 1, 1) AS BIGINT)
             AS percent_rank_bp,
           CAST(le_cnt * 10000 // n AS BIGINT) AS cume_dist_bp
    FROM r ORDER BY user_id, event_id
    """,
    "percent_rank / cume_dist in integer basis points (floor), with a "
    "unique (x, event_id) total order so both engines agree exactly — "
    "completes the native rank-function family beyond q46's "
    "rank/dense_rank/ntile",
)
def q111(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("x", "event_id")
    wn = Window.partitionBy("user_id")
    r = o.select(
        "user_id",
        "event_id",
        F.rank().over(w).alias("rk"),
        F.row_number().over(w).alias("le_cnt"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.select(
        "user_id",
        "event_id",
        F.expr("(rk - 1) * 10000 div greatest(n - 1, 1)").alias(
            "percent_rank_bp"
        ),
        F.expr("le_cnt * 10000 div n").alias("cume_dist_bp"),
    ).orderBy("user_id", "event_id")


from kubenetmon_spark.gate_bpe import bpe_oracle_sql


@_register(
    "q112_bpe_tokenize",
    # iterative merge training, oracled the gate_kmeans way: one
    # generated MATERIALIZED CTE pair per merge round (argmax pair +
    # string-replace splice), replace-chain application over distinct
    # words — upgraded from rows-only in r03 (VERDICT r02 #7); the
    # token-level algorithm is additionally validated against an
    # independent pure-Python reference in tests/test_bpe.py
    bpe_oracle_sql(16),
    "real BPE: merges trained on the corpus (distinct-word-weighted "
    "pair counting, one small shuffle per merge, lexicographic "
    "tie-break) then applied via Arrow batches with per-batch word "
    "memoization — operators/bpe.py; oracle = gate_bpe.py's unrolled "
    "deterministic merge chain",
)
def q112(spark, sf_dir):
    from kubenetmon_spark.operators.bpe import bpe_apply, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", num_merges=16)
    return (
        bpe_apply(docs, merges, "doc_id", "text")
        .orderBy("doc_id")
    )


def _dsir_gumbel_oracle_sql(buckets: int = 4096, k: int = 50, seed: int = 42) -> str:
    """Full value-hash oracle for q113: the identical fixed-point-ln
    Gumbel top-k pipeline in DuckDB SQL (functions/fxlog.py emits the
    integer ln chains for both engines from one step table)."""
    from kubenetmon_spark.functions.fxlog import LN2_FX, fx_ln_wrap_sql

    h = f"CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) % {buckets}"
    ratio_fx = fx_ln_wrap_sql(
        fx_ln_wrap_sql("SELECT * FROM ratio0", "_num", "_ln_num"),
        "_den",
        "_ln_den",
    )
    gum_u_fx = fx_ln_wrap_sql("SELECT * FROM gum0", "_h", "_ln_u_neg")
    gum_l_fx = fx_ln_wrap_sql("SELECT * FROM gum1", "_L", "_ln_L")
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, source,
             unnest(list_concat(t,
               list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                              i -> t[i] || ' ' || t[i + 1]))) AS g
      FROM toks
    ),
    rawf AS MATERIALIZED (
      SELECT doc_id AS _id, {h} AS bucket, COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2
    ),
    tgtf AS MATERIALIZED (
      SELECT {h} AS bucket, COUNT(*) AS tgt_n
      FROM grams WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    rdist AS (SELECT bucket, SUM(cnt) AS raw_n FROM rawf GROUP BY bucket),
    tot AS (SELECT (SELECT SUM(raw_n) FROM rdist) AS R,
                   (SELECT COALESCE(SUM(tgt_n), 0) FROM tgtf) AS T),
    ratio0 AS (
      SELECT r.bucket,
             CAST((COALESCE(t.tgt_n, 0) + 1) * (tot.R + {buckets})
                  AS BIGINT) AS _num,
             CAST((r.raw_n + 1) * (tot.T + {buckets}) AS BIGINT) AS _den
      FROM rdist r LEFT JOIN tgtf t USING (bucket), tot
    ),
    ratio AS (
      SELECT bucket, CAST(_ln_num - _ln_den AS BIGINT) AS lr
      FROM {ratio_fx} rq
    ),
    scores AS (
      SELECT f._id AS doc_id, CAST(SUM(f.cnt * r.lr) AS BIGINT) AS score
      FROM rawf f JOIN ratio r USING (bucket) GROUP BY 1
    ),
    gum0 AS (
      SELECT doc_id, score,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{seed}'),
                  1, 13) AS BIGINT) + 1 AS _h
      FROM scores
    ),
    gum1 AS (
      SELECT doc_id, score,
             CAST(GREATEST({52 * LN2_FX} - _ln_u_neg, 1) AS BIGINT) AS _L
      FROM {gum_u_fx} g1
    ),
    gum AS (
      SELECT doc_id,
             CAST(score + {40 * LN2_FX} - _ln_L AS BIGINT) AS gumbel_key_fx
      FROM {gum_l_fx} g2
    ),
    top AS (
      SELECT * FROM gum ORDER BY gumbel_key_fx DESC, doc_id LIMIT {k}
    )
    SELECT doc_id, gumbel_key_fx FROM top ORDER BY doc_id
    """


@_register(
    "q113_dsir_select",
    _dsir_gumbel_oracle_sql(),
    "DSIR data selection (Xie et al. 2023): hashed-n-gram importance "
    "weights of every doc against a target slice (sources src0/src1), "
    "Gumbel top-k sample WITHOUT replacement — with every logarithm "
    "computed as the engine-portable fixed-point integer ln of "
    "functions/fxlog.py (atanh series, truncating integer ops both "
    "engines share exactly), so selection AND keys value-hash-match "
    "the DuckDB oracle bit for bit; integer log-weight sums are "
    "partition-order-independent where float sums are not. Closes the "
    "former rows-only gate (the float twin gumbel_topk stays "
    "NumPy-validated in tests/test_dsir.py). Ratio table broadcast, "
    "one token-volume shuffle — operators/dsir.py::"
    "dsir_gumbel_sample_exact",
)
def q113(spark, sf_dir):
    from kubenetmon_spark.operators.dsir import dsir_gumbel_sample_exact

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    return (
        # target is literally a filter of docs: the subset fast path
        # derives target features from the raw feature pass (dsir.py r8)
        dsir_gumbel_sample_exact(
            docs, target, "doc_id", buckets=4096, k=50, seed=42,
            target_within_raw=True,
        )
        .orderBy("doc_id")
    )


@_register(
    "q114_string_search",
    """
    SELECT doc_id,
           CAST(strpos(text, 'data') AS BIGINT) AS pos_data,
           (strpos(text, 'spark') > 0 OR strpos(text, 'query') > 0)
             AS multi_any,
           CAST(length(text) - length(replace(text, 'data', ''))
                AS BIGINT) / 4 AS n_data,
           regexp_matches(text, 'merge.*merge') AS has_double_merge,
           starts_with(text, 'the') AS starts_the,
           CAST(CASE WHEN strpos(text, 'batch') > 0
                THEN strpos(text, 'batch') ELSE 0 END AS BIGINT)
             AS pos_batch
    FROM documents ORDER BY doc_id
    """,
    "ClickHouse string-search family in one shape: position(), "
    "multiSearchAny(), countSubstrings() (via length-difference — "
    "non-overlapping count, both engines), match() regex, "
    "startsWith() — all native codegen string expressions",
)
def q114(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_data = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("data"))))
        / 4
    )
    return d.select(
        "doc_id",
        F.instr("text", "data").cast("long").alias("pos_data"),
        (
            (F.instr("text", "spark") > 0) | (F.instr("text", "query") > 0)
        ).alias("multi_any"),
        n_data.alias("n_data"),
        F.col("text").rlike("merge.*merge").alias("has_double_merge"),
        F.startswith(F.col("text"), F.lit("the")).alias("starts_the"),
        F.when(F.instr("text", "batch") > 0, F.instr("text", "batch"))
        .otherwise(0)
        .cast("long")
        .alias("pos_batch"),
    ).orderBy("doc_id")


@_register(
    "q115_datetime_functions",
    """
    SELECT event_id,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m,
           CAST(dayofweek(ts) + 1 AS BIGINT) AS dow_sunday1,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS fmt,
           CAST(date_part('epoch', date_trunc('day', ts)) AS BIGINT)
             AS day_start_epoch,
           strftime(ts + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
           CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                AS BIGINT) AS days_since_y24
    FROM events ORDER BY event_id
    """,
    "ClickHouse date/time function family: toYear/toMonth/toDayOfWeek "
    "(Sunday=1 convention pinned on both engines), formatDateTime, "
    "toStartOfDay as epoch, addMonths (calendar-aware), dateDiff — "
    "all built-in, portable across Spark and DuckDB",
)
def q115(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofweek("ts").cast("long").alias("dow_sunday1"),
        F.date_format(F.date_trunc("second", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "fmt"
        ),
        F.date_trunc("day", F.col("ts")).cast("long").alias("day_start_epoch"),
        F.date_format(
            F.add_months(F.col("ts"), 3), "yyyy-MM-dd"
        ).alias("plus_3mo"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("days_since_y24"),
    ).orderBy("event_id")


@_register(
    "q116_sequence_next_node",
    """
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             LAG(event_type, 1) OVER w AS p1,
             LAG(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM o WHERE p2 = 'signup' AND p1 = 'click'
    )
    SELECT user_id, event_type AS next_node
    FROM m WHERE rn = 1
    ORDER BY user_id
    """,
    "ClickHouse sequenceNextNode (head/first_match): the event type "
    "directly following the first CONSECUTIVE signup->click chain per "
    "user — lag() stack over one (user, ts, id) sort, single window "
    "pass — operators/funnel.py::sequence_next_node",
)
def q116(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import sequence_next_node

    ev = _t(spark, sf_dir, "events")
    return sequence_next_node(ev, ["signup", "click"]).orderBy("user_id")


def _kmv_oracle_sql(k: int) -> str:
    # 13-hex-digit md5 prefix -> 52-bit integer, the q25 instr-fold idiom
    hash_expr = (
        "list_sum(list_transform(range(1, 14), i -> "
        "(instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), "
        "i, 1)) - 1) * (16 ** (13 - i))::BIGINT))"
    )
    num = (2**52) * (k - 1)
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type, {hash_expr} AS h FROM events
    ),
    r AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM h
    )
    SELECT event_type,
           CAST(CASE WHEN MAX(n) < {k} THEN MAX(n)
                ELSE {num} // MAX(CASE WHEN rk = {k} THEN h END)
                END AS BIGINT) AS n_distinct_est
    FROM r GROUP BY event_type ORDER BY event_type
    """


@_register(
    "q117_uniq_state_merge",
    _kmv_oracle_sql(256),
    "ClickHouse uniqState/uniqMerge over ENGINE-EXACT KMV sketches: "
    "per-day mergeable k-minimum-values states (52-bit md5 hashes) "
    "unioned into range distinct counts without a fact rescan — "
    "operators/sketch.py::kmv_state/kmv_merge. Unlike HLL (whose "
    "packing varies per library/merge order), the KMV state is "
    "a pure set function, so the DuckDB oracle reproduces the exact "
    "estimates: merging per-day top-k minima equals the global top-k",
)
def q117(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import kmv_merge, kmv_state

    ev = _t(spark, sf_dir, "events")
    daily = kmv_state(
        ev.withColumn("day", F.to_date("ts")),
        ["event_type", "day"],
        "user_id",
        k=256,
    )
    return kmv_merge(daily, ["event_type"], k=256).orderBy("event_type")


@_register(
    "q118_curation_pipeline",
    """
    WITH t AS (
      SELECT doc_id, source, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    quality AS (
      SELECT doc_id, source,
             (len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in'], x))) * 10000) // len(toks)
               AS stop_bp,
             (len(list_distinct(toks)) * 10000) // len(toks) AS distinct_bp,
             len(toks) AS n_tokens
      FROM t
    ),
    spans AS (
      SELECT doc_id, array_to_string(a[i:i+7], ' ') AS span
      FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) s,
           UNNEST(range(1, len(a) - 8 + 2)) AS u(i)
      WHERE len(a) >= 8
    ),
    counts AS (SELECT span, COUNT(*) AS c FROM spans GROUP BY span),
    dup AS (
      SELECT s.doc_id,
             SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
               AS dup_bp
      FROM spans s JOIN counts c USING (span) GROUP BY s.doc_id
    ),
    kept AS (
      SELECT q.doc_id, q.source, q.n_tokens
      FROM quality q JOIN dup d USING (doc_id)
      WHERE q.distinct_bp >= 3000 AND d.dup_bp <= 7000 AND q.n_tokens >= 8
    ),
    capped AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM kept
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM capped WHERE rk <= 10
    GROUP BY source ORDER BY source
    """,
    "END-TO-END curation pipeline in one plan: quality gates "
    "(distinct-token ratio floor, token-count floor) x span-duplication "
    "ceiling (corpus-wide 8-token spans) -> deterministic per-source "
    "quota of 10 -> per-source token budget. Composes with_quality, "
    "duplicate_span_fraction, and cap_per_group; id_sum pins exactly "
    "which docs survived",
)
def q118(spark, sf_dir):
    from kubenetmon_spark.operators.curation import cap_per_group
    from kubenetmon_spark.operators.dedup import duplicate_span_fraction
    from kubenetmon_spark.operators.text import with_quality

    docs = _t(spark, sf_dir, "documents")
    q = with_quality(docs, "text").select(
        "doc_id", "source", "n_tokens", "distinct_ratio_bp"
    )
    dup = duplicate_span_fraction(docs, "doc_id", "text", n=8).select(
        "doc_id", "dup_bp"
    )
    kept = (
        q.join(dup, "doc_id")
        .filter(
            (F.col("distinct_ratio_bp") >= 3000)
            & (F.col("dup_bp") <= 7000)
            & (F.col("n_tokens") >= 8)
        )
        .select("doc_id", "source", "n_tokens")
    )
    capped = cap_per_group(kept, ["source"], 10, "doc_id")
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


@_register(
    "q119_funnel_strict_order",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type, 1) OVER w AS p1,
             LAG(ts, 1) OVER w AS pts1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    d AS (
      SELECT user_id,
             CASE
               WHEN event_type = 'click' AND p1 = 'signup'
                    AND epoch_us(ts) - epoch_us(pts1) <= CAST(86400 AS BIGINT) * 1000000
                 THEN 2
               WHEN event_type = 'signup' THEN 1
               ELSE 0
             END AS depth
      FROM o
    )
    SELECT user_id, CAST(MAX(depth) AS INT) AS funnel_level
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    "windowFunnel strict_order mode: signup immediately followed by "
    "click in the user's FULL event sequence (any other event "
    "interrupts), 1-day window — lag-stack depth over one sort, "
    "operators/funnel.py::window_funnel_strict_order",
)
def q119(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import window_funnel_strict_order

    ev = _t(spark, sf_dir, "events")
    return (
        window_funnel_strict_order(ev, ["signup", "click"], 86400)
        .withColumn("funnel_level", F.col("funnel_level").cast("int"))
        .orderBy("user_id")
    )


@_register(
    "q120_priority_shipping",
    """
    SELECT l.l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    "TPC-H Q12 shape (shipmode -> returnflag adaptation): date-ranged "
    "fact join + CASE-conditional counts folding into the aggregate; "
    "orders side joins on the shuffle key, date filter pushed to the "
    "lineitem scan",
)
def q120(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("returnflag")
    )


@_register(
    "q121_supplier_part_variety",
    """
    WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p.p_brand AS brand, p.p_size % 5 AS size_bucket,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    GROUP BY p.p_brand, p.p_size % 5
    ORDER BY supplier_cnt DESC, brand, size_bucket
    """,
    "TPC-H Q16 shape (lineitem as the part-supplier relation): distinct "
    "supplier counts per (brand, size bucket) with a NOT-IN exclusion "
    "list — the exclusion is a broadcast left-anti join (safe here: the "
    "subquery side is null-free by construction), the part dim "
    "broadcasts, one shuffle for the distinct aggregation",
)
def q121(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.col("p_size") % 5).alias("size_bucket"),
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "size_bucket")
    )


@_register(
    "q122_profit_by_nation_year",
    """
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS y,
           CAST(SUM(
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(6,4))) * 10000
             - CAST(p.p_retailprice AS DECIMAL(12,2))
               * CAST(l.l_quantity AS DECIMAL(12,2)) * 1000
           ) AS BIGINT) AS profit_e4
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY n.n_name, year(l.l_shipdate)
    ORDER BY nation, y
    """,
    "TPC-H Q9 shape (retailprice/10 as the pseudo supply cost): profit "
    "by supplier nation x ship year through a 4-table snowflake — every "
    "dim broadcasts, the fact scans once and shuffles once on the "
    "final group key; exact integer fixed-point arithmetic",
)
def q122(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%a%"))
        .select("p_partkey", "p_retailprice")
    )
    profit = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    ) * 10000 - F.col("p_retailprice").cast(DEC2) * F.col(
        "l_quantity"
    ).cast(DEC2) * 1000
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(F.sum(profit).cast("bigint").alias("profit_e4"))
        .orderBy("nation", "y")
    )


@_register(
    "q123_topk_weighted",
    """
    WITH w AS (
      SELECT CAST(length(bin(user_id + 1)) AS VARCHAR) AS user_key,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE value > 0
    )
    SELECT user_key, CAST(SUM(cents) AS BIGINT) AS total_weight
    FROM w GROUP BY user_key
    ORDER BY total_weight DESC, user_key LIMIT 5
    """,
    "ClickHouse topKWeighted — the README top-talkers semantics (top "
    "keys by summed bytes, not row count): Misra-Gries candidate sketch "
    "fed weighted increments, exact sums over survivors only — "
    "operators/sketch.py::heavy_hitters_weighted. Keys are exponential "
    "cohorts (floor-log2 of user_id, computed as a binary-string length "
    "in both engines): cohort k holds ~2^k users, so the top keys carry "
    "a CONSTANT share of total weight at EVERY scale factor — the "
    "heavy-hitter regime the sketch is designed for and guaranteed "
    "complete in (the r02 form keyed by raw user_id was flat: at sf0.1 "
    "the 5th-heaviest user held ~1/15000 of weight, far under the "
    "1/num_counters completeness bound, and the sf0.1 parity run "
    "caught the sketch legally missing it)",
)
def q123(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import heavy_hitters_weighted

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = ev.select(
        F.length(F.bin(F.col("user_id") + 1)).cast("string").alias("user_key"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return heavy_hitters_weighted(w, "user_key", "cents", k=5)


@_register(
    "q124_display_functions",
    """
    WITH s AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY event_type
    ),
    m AS (SELECT MAX(cents) AS mx FROM s)
    SELECT event_type,
           CASE
             WHEN cents >= 1000000000 THEN
               CAST(CAST(cents AS DECIMAL(28,6)) / 1000000000 AS DECIMAL(18,2))
                 || ' billion'
             WHEN cents >= 1000000 THEN
               CAST(CAST(cents AS DECIMAL(28,6)) / 1000000 AS DECIMAL(18,2))
                 || ' million'
             WHEN cents >= 1000 THEN
               CAST(CAST(cents AS DECIMAL(28,6)) / 1000 AS DECIMAL(18,2))
                 || ' thousand'
             ELSE CAST(cents AS VARCHAR)
           END AS readable,
           repeat('#', CAST((cents * 20) // mx AS BIGINT)) AS bar
    FROM s, m ORDER BY event_type
    """,
    "ClickHouse display functions: formatReadableQuantity (thousand/"
    "million/billion ladder, exact decimal rounding so both engines "
    "emit identical strings) and bar() rendered with '#' at width 20 "
    "scaled by the max — pure expressions over a tiny aggregate",
)
def q124(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    c = F.col("cents")

    def _scaled(div):
        return F.concat(
            (c.cast("decimal(28,6)") / div).cast("decimal(18,2)").cast("string")
        )

    readable = (
        F.when(c >= 1_000_000_000, F.concat(_scaled(1_000_000_000), F.lit(" billion")))
        .when(c >= 1_000_000, F.concat(_scaled(1_000_000), F.lit(" million")))
        .when(c >= 1_000, F.concat(_scaled(1_000), F.lit(" thousand")))
        .otherwise(c.cast("string"))
    )
    mx = F.max("cents").over(Window.partitionBy())
    return (
        s.withColumn("_mx", mx)
        .select(
            "event_type",
            readable.alias("readable"),
            F.repeat(F.lit("#"), F.expr("cents * 20 div _mx").cast("int")).alias(
                "bar"
            ),
        )
        .orderBy("event_type")
    )


@_register(
    "q125_nonneg_derivative",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             epoch_us(ts) AS us
      FROM events
    ),
    d AS (
      SELECT user_id, event_id,
             x - LAG(x) OVER w AS dx,
             us - LAG(us) OVER w AS dus
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(CASE WHEN dx IS NULL OR dx < 0 OR dus = 0 THEN NULL
                ELSE (dx * 1000000) // dus END AS BIGINT)
             AS rate_e2_per_s
    FROM d ORDER BY user_id, event_id
    """,
    "ClickHouse nonNegativeDerivative: per-event rate of change per "
    "second, negatives nulled, integer-exact via floor((dx * 1e6) / "
    "d_microseconds) — lag pair over one sort, no Python",
)
def q125(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dx = F.col("x") - F.lag("x").over(w)
    dus = F.col("us") - F.lag("us").over(w)
    return (
        o.select(
            "user_id",
            "event_id",
            F.when(
                dx.isNull() | (dx < 0) | (dus == 0), F.lit(None)
            )
            .otherwise(F.expr("1") * dx * 1_000_000)
            .alias("_num"),
            dus.alias("_dus"),
        )
        .select(
            "user_id",
            "event_id",
            F.expr("_num div _dus").cast("long").alias("rate_e2_per_s"),
        )
        .orderBy("user_id", "event_id")
    )


@_register(
    "q126_interval_union",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               + (abs(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100)
                 % 600 + 60 AS e
      FROM events
    ),
    sweep AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_e
      FROM iv
    )
    SELECT user_id,
           CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(prev_e, s))))
                AS BIGINT) AS union_len
    FROM sweep GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse intervalLengthSum: total length of the UNION of "
    "[start, end) activity intervals per user (overlaps counted once) "
    "— running-max-of-ends sweep as window algebra, integer seconds — "
    "operators/timeseries.py::interval_union_length",
)
def q126(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import interval_union_length

    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    dur = (F.abs(cents).cast("long") / 100).cast("long") % 600 + 60
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + dur).alias("e"),
    )
    return interval_union_length(
        iv, ["user_id"], "s", "e", "event_id", out_col="union_len"
    ).orderBy("user_id")


@_register(
    "q127_welch_ttest",
    """
    WITH o AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    s AS (
      SELECT event_type,
             COUNT(CASE WHEN variant = 'a' THEN 1 END) AS n1,
             SUM(CASE WHEN variant = 'a' THEN x END) AS sx1,
             SUM(CASE WHEN variant = 'a' THEN x * x END) AS sxx1,
             COUNT(CASE WHEN variant = 'b' THEN 1 END) AS n2,
             SUM(CASE WHEN variant = 'b' THEN x END) AS sx2,
             SUM(CASE WHEN variant = 'b' THEN x * x END) AS sxx2
      FROM o GROUP BY event_type
    )
    SELECT event_type, n1, n2,
           ROUND(sx1 / n1, 6) AS mean_control,
           ROUND(sx2 / n2, 6) AS mean_treatment,
           ROUND(
             (sx1 / n1 - sx2 / n2) / sqrt(
               ((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
               + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2
             ), 6) AS t_stat
    FROM s ORDER BY event_type
    """,
    "ClickHouse welchTTest: unequal-variance t statistic between two "
    "user cohorts per event type, computed from exact integer sums so "
    "the final IEEE divisions/sqrt yield identical doubles in both "
    "engines — operators/stats.py::welch_t_test (one hash agg)",
)
def q127(spark, sf_dir):
    from kubenetmon_spark.operators.stats import welch_t_test

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return welch_t_test(o, ["event_type"], "x", "variant", "a", "b").orderBy(
        "event_type"
    )


@_register(
    "q128_pearson_corr",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(user_id % 7 AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM o GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
    FROM s ORDER BY event_type
    """,
    "Pearson correlation from exact integer sums (never Spark's "
    "built-in corr — it accumulates floats in shuffle order and is "
    "non-deterministic) — operators/stats.py::pearson_corr_exact",
)
def q128(spark, sf_dir):
    from kubenetmon_spark.operators.stats import pearson_corr_exact

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        (F.col("user_id") % 7).alias("y"),
    )
    return pearson_corr_exact(o, ["event_type"], "x", "y").orderBy(
        "event_type"
    )


@_register(
    "q129_entropy",
    """
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    s AS (
      SELECT event_type, SUM(cnt) AS n,
             SUM(cnt * log2(cnt)) AS clogc
      FROM c GROUP BY event_type
    )
    SELECT event_type, ROUND(log2(n) - clogc / n, 6) AS entropy_bits
    FROM s ORDER BY event_type
    """,
    "ClickHouse entropy: Shannon entropy (bits) of each event type's "
    "user distribution — two-level exact-count aggregation, the float "
    "step uses only integer counts — "
    "operators/stats.py::shannon_entropy",
)
def q129(spark, sf_dir):
    from kubenetmon_spark.operators.stats import shannon_entropy

    ev = _t(spark, sf_dir, "events")
    return shannon_entropy(ev, ["event_type"], "user_id").orderBy(
        "event_type"
    )


@_register(
    "q130_mann_whitney",
    """
    WITH o AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10 AS x
      FROM events
    ),
    r AS (
      SELECT event_type, variant,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
               + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS dmr,
             COUNT(*) OVER (PARTITION BY event_type, x) AS eq
      FROM o
    ),
    s AS (
      SELECT event_type,
             COUNT(CASE WHEN variant = 'a' THEN 1 END) AS n1,
             COUNT(CASE WHEN variant = 'b' THEN 1 END) AS n2,
             SUM(CASE WHEN variant = 'a' THEN dmr END) AS dblr1,
             SUM(eq * eq - 1) AS tie3
      FROM r GROUP BY event_type
    )
    SELECT event_type, n1, n2,
           CAST((dblr1 - n1 * (n1 + 1)) AS DOUBLE) / 2 AS u1,
           ROUND(
             ((dblr1 - n1 * (n1 + 1)) / 2 - n1 * n2 / 2)
             / sqrt(CAST(n1 * n2 AS DOUBLE) / 12
               * ((n1 + n2 + 1) - CAST(tie3 AS DOUBLE)
                  / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z
    FROM s ORDER BY event_type
    """,
    "ClickHouse mannWhitneyUTest: rank-sum U between two user cohorts "
    "with EXACT integer midranks (doubled midranks stay in int64; the "
    "only floats are the final z divisions over exact integers) — "
    "operators/stats.py::mann_whitney_u; x deciscaled to force ties so "
    "the midrank path is genuinely exercised",
)
def q130(spark, sf_dir):
    from kubenetmon_spark.operators.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("variant"),
        F.expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint) div 10"
        ).alias("x"),
    )
    return mann_whitney_u(o, ["event_type"], "x", "variant", "a", "b").orderBy(
        "event_type"
    )


@_register(
    "q131_ks_test",
    """
    WITH o AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS i1,
             CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS i2,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10 AS x
      FROM events
    ),
    st AS (
      SELECT event_type,
             SUM(i1) OVER (PARTITION BY event_type ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(i2) OVER (PARTITION BY event_type ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
             SUM(i1) OVER (PARTITION BY event_type) AS n1,
             SUM(i2) OVER (PARTITION BY event_type) AS n2
      FROM o
    )
    SELECT event_type,
           CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           ROUND(CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
                 / CAST(MAX(n1) * MAX(n2) AS DOUBLE), 6) AS d_stat
    FROM st GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse kolmogorovSmirnovTest: two-sample ECDF sup-difference "
    "with the argmax taken over EXACT integers (|c1*n2 - c2*n1|), one "
    "float division at the end — operators/stats.py::ks_test; RANGE "
    "frames make the cumulative counts tie-order-independent",
)
def q131(spark, sf_dir):
    from kubenetmon_spark.operators.stats import ks_test

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("variant"),
        F.expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint) div 10"
        ).alias("x"),
    )
    return ks_test(o, ["event_type"], "x", "variant", "a", "b").orderBy(
        "event_type"
    )


@_register(
    "q132_spearman_corr",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10 AS x,
             CAST(user_id % 7 AS BIGINT) AS y
      FROM events
    ),
    r AS (
      SELECT event_type,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
               + COUNT(*) OVER (PARTITION BY event_type, x) - 1
               - (COUNT(*) OVER (PARTITION BY event_type) + 1) AS cx,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
               + COUNT(*) OVER (PARTITION BY event_type, y) - 1
               - (COUNT(*) OVER (PARTITION BY event_type) + 1) AS cy
      FROM o
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(cx * cy) AS sxy, SUM(cx * cx) AS sxx, SUM(cy * cy) AS syy
      FROM r GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(sxy / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)
             AS rho
    FROM s ORDER BY event_type
    """,
    "ClickHouse rankCorr: Spearman rank correlation with integer "
    "midranks; centered doubled midranks (mean is exactly n+1) keep "
    "every sum in int64, one float division at the end — "
    "operators/stats.py::spearman_rank_corr; x deciscaled and y a "
    "small modulus so both tie paths are exercised",
)
def q132(spark, sf_dir):
    from kubenetmon_spark.operators.stats import spearman_rank_corr

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint) div 10"
        ).alias("x"),
        (F.col("user_id") % 7).alias("y"),
    )
    return spearman_rank_corr(o, ["event_type"], "x", "y").orderBy(
        "event_type"
    )


@_register(
    "q133_cramers_v",
    """
    WITH o AS (
      SELECT event_type,
             CAST(user_id % 5 AS BIGINT) AS a,
             CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  % 7 AS BIGINT) AS b
      FROM events
    ),
    cells AS (
      SELECT event_type, a, b, COUNT(*) AS o FROM o GROUP BY event_type, a, b
    ),
    m AS (
      SELECT event_type, a, b, o,
             CAST(o * o * 1000000000 AS BIGINT)
               // (SUM(o) OVER (PARTITION BY event_type, a)
                   * SUM(o) OVER (PARTITION BY event_type, b)) AS t
      FROM cells
    ),
    s AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS s_scaled,
             COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb
      FROM m GROUP BY event_type
    )
    SELECT event_type, n, ka, kb,
           ROUND(sqrt(GREATEST(n * (CAST(s_scaled AS DOUBLE) / 1000000000.0
                                    - 1.0), 0.0)
                      / (n * (LEAST(ka, kb) - 1))), 6) AS v
    FROM s ORDER BY event_type
    """,
    "ClickHouse cramersV: categorical association from exact cell "
    "counts; each chi^2 cell term is INTEGER division (o^2*1e9 div "
    "ra*cb), so the sum is over int64 and no float-accumulation-order "
    "hazard exists — operators/stats.py::cramers_v",
)
def q133(spark, sf_dir):
    from kubenetmon_spark.operators.stats import cramers_v

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("user_id") % 5).alias("a"),
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)") % 7
        ).alias("b"),
    )
    return cramers_v(o, ["event_type"], "a", "b").orderBy("event_type")


@_register(
    "q134_linear_regression",
    """
    WITH o AS (
      SELECT event_type,
             CAST(user_id % 100 AS BIGINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM o GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept
    FROM s ORDER BY event_type
    """,
    "ClickHouse simpleLinearRegression: OLS slope/intercept per event "
    "type from exact integer sums, one hash agg with map-side combine "
    "— operators/stats.py::simple_linear_regression",
)
def q134(spark, sf_dir):
    from kubenetmon_spark.operators.stats import simple_linear_regression

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("user_id") % 100).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    return simple_linear_regression(o, ["event_type"], "x", "y").orderBy(
        "event_type"
    )


@_register(
    "q135_skew_kurtosis",
    """
    WITH o AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem
    ),
    s AS (
      SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
             SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
      FROM o GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(s1 / CAST(n AS DOUBLE), 6) AS mean,
           ROUND((s3 / CAST(n AS DOUBLE)
                  - 3 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                  + 2 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                    * (s1 / CAST(n AS DOUBLE)))
                 / ((s2 / CAST(n AS DOUBLE)
                     - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                    * sqrt(s2 / CAST(n AS DOUBLE)
                           - (s1 / CAST(n AS DOUBLE))
                             * (s1 / CAST(n AS DOUBLE)))), 6) AS skew_pop,
           ROUND((s4 / CAST(n AS DOUBLE)
                  - 4 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                  + 6 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                    * (s2 / CAST(n AS DOUBLE))
                  - 3 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                    * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 / ((s2 / CAST(n AS DOUBLE)
                     - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                    * (s2 / CAST(n AS DOUBLE)
                       - (s1 / CAST(n AS DOUBLE))
                         * (s1 / CAST(n AS DOUBLE)))), 6) AS kurt_pop
    FROM s ORDER BY l_returnflag
    """,
    "ClickHouse skewPop/kurtPop: population skewness and kurtosis from "
    "exact integer raw moments (quantity <= 50, so x^4 sums stay in "
    "int64 to ~1e9 rows/group); one fixed float expression shape over "
    "the integer sums — operators/stats.py::skew_kurtosis",
)
def q135(spark, sf_dir):
    from kubenetmon_spark.operators.stats import skew_kurtosis

    li = _t(spark, sf_dir, "lineitem")
    o = li.select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("x")
    )
    return skew_kurtosis(o, ["l_returnflag"], "x").orderBy("l_returnflag")


@_register(
    "q136_bitmap_family",
    """
    WITH trip AS (
      SELECT DISTINCT event_type, dayofweek(ts) AS s, user_id FROM events
    ),
    per_elem AS (
      SELECT event_type, user_id, COUNT(*) AS k
      FROM trip GROUP BY event_type, user_id
    ),
    ns AS (
      SELECT event_type, COUNT(DISTINCT s) AS nk
      FROM trip GROUP BY event_type
    )
    SELECT p.event_type,
           CAST(MAX(nk) AS BIGINT) AS n_sets,
           CAST(COUNT(CASE WHEN k = nk THEN 1 END) AS BIGINT) AS and_card,
           CAST(COUNT(*) AS BIGINT) AS or_card,
           CAST(COUNT(CASE WHEN k % 2 = 1 THEN 1 END) AS BIGINT) AS xor_card
    FROM per_elem p JOIN ns ON ns.event_type = p.event_type
    GROUP BY p.event_type ORDER BY p.event_type
    """,
    "ClickHouse groupBitmapAnd/Or/Xor: per event type, one bitmap of "
    "active users per weekday; |intersection| (users active every "
    "weekday), |union|, |odd-membership symmetric difference| — no "
    "roaring bitmaps, multiplicity counting is exact and every "
    "post-distinct shuffle carries one row per user or group — "
    "operators/agg.py::bitmap_aggregate (weekday numbering conventions "
    "differ between engines but induce the same set partition)",
)
def q136(spark, sf_dir):
    from kubenetmon_spark.operators.agg import bitmap_aggregate

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type", F.dayofweek("ts").alias("s"), "user_id"
    )
    return bitmap_aggregate(o, ["event_type"], "s", "user_id").orderBy(
        "event_type"
    )


@_register(
    "q137_max_intersections",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               + (abs(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100)
                 % 600 + 60 AS e
      FROM events
    ),
    pts AS (
      SELECT user_id, s AS p, 1 AS d, event_id AS tb FROM iv
      UNION ALL
      SELECT user_id, e, -1, event_id FROM iv
    ),
    sw AS (
      SELECT user_id, p,
             SUM(d) OVER (PARTITION BY user_id ORDER BY p, d, tb
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS depth
      FROM pts
    ),
    g AS (
      SELECT user_id, p, depth,
             MAX(depth) OVER (PARTITION BY user_id) AS gmax
      FROM sw
    )
    SELECT user_id,
           CAST(MAX(depth) AS BIGINT) AS max_intersections,
           CAST(MIN(CASE WHEN depth = gmax THEN p END) AS BIGINT) AS position
    FROM g GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse maxIntersections/maxIntersectionsPosition: the densest "
    "point of each user's [start, end) activity intervals — sweep line "
    "as window algebra (+1/-1 deltas, closes before opens at equal "
    "points), integer depths so engines agree exactly — "
    "operators/timeseries.py::max_intersections; same interval "
    "synthesis as q126 so union length and peak overlap are directly "
    "comparable",
)
def q137(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import max_intersections

    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    dur = (F.abs(cents).cast("long") / 100).cast("long") % 600 + 60
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + dur).alias("e"),
    )
    return max_intersections(iv, ["user_id"], "s", "e", "event_id").orderBy(
        "user_id"
    )


@_register(
    "q138_association_family",
    """
    WITH o AS (
      SELECT event_type,
             CAST(user_id % 5 AS BIGINT) AS a,
             CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  % 7 AS BIGINT) AS b
      FROM events
    ),
    cells AS (
      SELECT event_type, a, b, COUNT(*) AS o FROM o GROUP BY event_type, a, b
    ),
    m AS (
      SELECT event_type, a, b, o,
             SUM(o) OVER (PARTITION BY event_type, a) AS ra,
             SUM(o) OVER (PARTITION BY event_type, b) AS cb,
             CAST(o * o * 1000000000 AS BIGINT)
               // (SUM(o) OVER (PARTITION BY event_type, a)
                   * SUM(o) OVER (PARTITION BY event_type, b)) AS t
      FROM cells
    ),
    s AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS s_scaled,
             COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb,
             SUM(o * log2(o)) AS slo,
             SUM(o * log2(ra)) AS sla,
             SUM(o * log2(cb)) AS slb
      FROM m GROUP BY event_type
    )
    SELECT event_type, n, ka, kb,
           ROUND(((log2(n) - sla / n) + (log2(n) - slb / n)
                  - (log2(n) - slo / n)) / (log2(n) - sla / n), 6)
             AS theils_u,
           ROUND(sqrt(GREATEST(n * (CAST(s_scaled AS DOUBLE) / 1000000000.0
                                    - 1.0), 0.0)
                      / (GREATEST(n * (CAST(s_scaled AS DOUBLE)
                                       / 1000000000.0 - 1.0), 0.0) + n)), 6)
             AS contingency_coef,
           ROUND(sqrt(GREATEST(GREATEST(n * (CAST(s_scaled AS DOUBLE)
                                             / 1000000000.0 - 1.0), 0.0) / n
                               - (ka - 1) * (kb - 1) / (n - 1), 0.0)
                      / (LEAST(ka - (ka - 1) * (ka - 1) / (n - 1),
                               kb - (kb - 1) * (kb - 1) / (n - 1)) - 1)), 6)
             AS cramers_v_corr
    FROM s ORDER BY event_type
    """,
    "ClickHouse theilsU/contingency/cramersVBiasCorrected in one pass: "
    "the margin-attached cell counts yield all three (the identity "
    "sum_a ra*log2(ra) = sum_cells o*log2(ra) folds the entropies into "
    "the same aggregate); chi^2 cell terms stay integer-divided as in "
    "q133 — operators/stats.py::association_measures",
)
def q138(spark, sf_dir):
    from kubenetmon_spark.operators.stats import association_measures

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("user_id") % 5).alias("a"),
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)") % 7
        ).alias("b"),
    )
    return association_measures(o, ["event_type"], "a", "b").orderBy(
        "event_type"
    )


@_register(
    "q139_student_ttest",
    """
    WITH o AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    s AS (
      SELECT event_type,
             COUNT(CASE WHEN variant = 'a' THEN 1 END) AS n1,
             SUM(CASE WHEN variant = 'a' THEN x END) AS sx1,
             SUM(CASE WHEN variant = 'a' THEN x * x END) AS sxx1,
             COUNT(CASE WHEN variant = 'b' THEN 1 END) AS n2,
             SUM(CASE WHEN variant = 'b' THEN x END) AS sx2,
             SUM(CASE WHEN variant = 'b' THEN x * x END) AS sxx2
      FROM o GROUP BY event_type
    )
    SELECT event_type, n1, n2,
           ROUND(sx1 / n1, 6) AS mean_control,
           ROUND(sx2 / n2, 6) AS mean_treatment,
           ROUND(
             (sx1 / n1 - sx2 / n2) / sqrt(
               (((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2))
                / (n1 + n2 - 2)) * (1.0 / n1 + 1.0 / n2)
             ), 6) AS t_stat
    FROM s ORDER BY event_type
    """,
    "ClickHouse studentTTest: pooled-variance two-sample t from the "
    "same exact integer sums as q127's Welch variant — "
    "operators/stats.py::student_t_test",
)
def q139(spark, sf_dir):
    from kubenetmon_spark.operators.stats import student_t_test

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return student_t_test(o, ["event_type"], "x", "variant", "a", "b").orderBy(
        "event_type"
    )


@_register(
    "q140_covariance",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(user_id % 7 AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy
      FROM o GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
             AS covar_pop,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE), 6) AS covar_samp
    FROM s ORDER BY event_type
    """,
    "ClickHouse covarPop/covarSamp from exact integer sums (never "
    "Spark's float-accumulating built-ins) — "
    "operators/stats.py::covariance_exact",
)
def q140(spark, sf_dir):
    from kubenetmon_spark.operators.stats import covariance_exact

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        (F.col("user_id") % 7).alias("y"),
    )
    return covariance_exact(o, ["event_type"], "x", "y").orderBy("event_type")


@_register(
    "q141_perceptual_dedup",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE length(text) >= 64
    ),
    raw_pos AS (
      SELECT doc_id, text, L, unnest(generate_series(1, L)) AS p FROM d
    ),
    pos AS (
      SELECT doc_id, L, p,
             unicode(substring(text, CAST(p AS INTEGER), 1)) AS cp,
             ((p - 1) * 64) // L AS c
      FROM raw_pos
    ),
    luma AS (
      SELECT doc_id, c, SUM(cp) AS luma FROM pos GROUP BY doc_id, c
    ),
    tot AS (SELECT doc_id, SUM(luma) AS total FROM luma GROUP BY doc_id),
    bits AS (
      SELECT l.doc_id, l.c,
             CASE WHEN 64 * l.luma >= t.total THEN 1 ELSE 0 END AS bit
      FROM luma l JOIN tot t ON t.doc_id = l.doc_id
    ),
    bands AS (
      SELECT doc_id, c // 16 AS bj,
             CAST(SUM(bit * (1 << (15 - (c % 16)))) AS BIGINT) AS bv
      FROM bits GROUP BY doc_id, c // 16
    ),
    wide AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN bj = 0 THEN bv END), 0) AS b0,
             COALESCE(SUM(CASE WHEN bj = 1 THEN bv END), 0) AS b1,
             COALESCE(SUM(CASE WHEN bj = 2 THEN bv END), 0) AS b2,
             COALESCE(SUM(CASE WHEN bj = 3 THEN bv END), 0) AS b3
      FROM bands GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM bands a
      JOIN bands b ON a.bj = b.bj AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.id_1, c.id_2,
           CAST(bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
              + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3))
              AS BIGINT) AS hamming
    FROM cand c
    JOIN wide w1 ON w1.doc_id = c.id_1
    JOIN wide w2 ON w2.doc_id = c.id_2
    WHERE bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
        + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3)) <= 3
    ORDER BY id_1, id_2
    """,
    "perceptual-hash (aHash) near-dup media pairs: Arrow-batched "
    "decode stand-in -> 64 position-chunk luma sums -> integer "
    "mean-threshold bits -> four 16-bit LSH bands -> band-equality "
    "self-join -> exact Hamming <= 3 (pigeonhole: every such pair "
    "shares a band, so recall is total) — "
    "operators/media.py::perceptual_hash_pairs over media_from_text; "
    "length >= 64 keeps every chunk populated in both engines",
)
def q141(spark, sf_dir):
    from kubenetmon_spark.operators.media import (
        media_from_text,
        perceptual_hash_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= 64)
    media = media_from_text(d, "doc_id", "text")
    return perceptual_hash_pairs(media, max_hamming=3).orderBy("id_1", "id_2")


@_register(
    "q142_sql_function_surface",
    """
    WITH s AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             COUNT(*) AS n,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
    )
    SELECT ym, CAST(n AS BIGINT) AS n,
           CASE
             WHEN cents >= 1099511627776.0 THEN CAST(CAST(cents / 1099511627776.0 AS DECIMAL(38,2)) AS VARCHAR) || ' TiB'
             WHEN cents >= 1073741824.0 THEN CAST(CAST(cents / 1073741824.0 AS DECIMAL(38,2)) AS VARCHAR) || ' GiB'
             WHEN cents >= 1048576.0 THEN CAST(CAST(cents / 1048576.0 AS DECIMAL(38,2)) AS VARCHAR) || ' MiB'
             WHEN cents >= 1024.0 THEN CAST(CAST(cents / 1024.0 AS DECIMAL(38,2)) AS VARCHAR) || ' KiB'
             ELSE CAST(CAST(cents AS DECIMAL(38,2)) AS VARCHAR) || ' B'
           END AS size_str,
           CASE
             WHEN n >= 1000000.0 THEN CAST(CAST(n / 1000000.0 AS DECIMAL(38,2)) AS VARCHAR) || ' million'
             WHEN n >= 1000.0 THEN CAST(CAST(n / 1000.0 AS DECIMAL(38,2)) AS VARCHAR) || ' thousand'
             ELSE CAST(CAST(n AS DECIMAL(38,2)) AS VARCHAR)
           END AS qty_str,
           CAST(cents % 4294967296 // 16777216 % 256 AS VARCHAR) || '.'
             || CAST(cents % 4294967296 // 65536 % 256 AS VARCHAR) || '.'
             || CAST(cents % 4294967296 // 256 % 256 AS VARCHAR) || '.'
             || CAST(cents % 4294967296 % 256 AS VARCHAR) AS ip_str,
           CAST(cents // n AS BIGINT) AS avg_cents,
           repeat('█', CAST(floor((n % 32) / 32.0 * 8 * 8) AS INTEGER) // 8)
             || CASE WHEN CAST(floor((n % 32) / 32.0 * 8 * 8) AS INTEGER) % 8 = 0
                THEN '' ELSE substring('▏▎▍▌▋▊▉█',
                  CAST(floor((n % 32) / 32.0 * 8 * 8) AS INTEGER) % 8, 1) END
             AS n_bar
    FROM s ORDER BY ym
    """,
    "the ClickHouse-name SQL surface end-to-end: the whole query runs "
    "through spark.sql with sql.py's declarative SQL UDFs "
    "(formatReadableSize/Quantity, IPv4NumToString, toYYYYMM, intDiv, "
    "bar) — Catalyst inlines every body into codegen (asserted in "
    "test_sql_surface.py), and the oracle re-derives each rendering "
    "with plain DuckDB SQL",
)
def q142(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH s AS (
          SELECT toYYYYMM(o_orderdate) AS ym,
                 COUNT(*) AS n,
                 SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                     AS BIGINT)) AS cents
          FROM orders GROUP BY toYYYYMM(o_orderdate)
        )
        SELECT ym, n,
               formatReadableSize(CAST(cents AS DOUBLE)) AS size_str,
               formatReadableQuantity(CAST(n AS DOUBLE)) AS qty_str,
               IPv4NumToString(cents % 4294967296) AS ip_str,
               intDiv(cents, n) AS avg_cents,
               bar(CAST(n % 32 AS DOUBLE), CAST(0 AS DOUBLE),
                   CAST(32 AS DOUBLE), CAST(8 AS DOUBLE)) AS n_bar
        FROM s ORDER BY ym
        """
    )


@_register(
    "q143_variance_family",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM o GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
             AS var_pop,
           ROUND(CAST(n * sxx - sx * sx AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE), 6) AS var_samp,
           ROUND(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n * n AS DOUBLE)), 6) AS stddev_pop,
           ROUND(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE)), 6) AS stddev_samp
    FROM s ORDER BY event_type
    """,
    "ClickHouse varPop/varSamp/stddevPop/stddevSamp from exact integer "
    "sums (never the float-accumulating built-ins) — "
    "operators/stats.py::variance_exact",
)
def q143(spark, sf_dir):
    from kubenetmon_spark.operators.stats import variance_exact

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return variance_exact(o, ["event_type"], "x").orderBy("event_type")


@_register(
    "q144_quantile_definitions",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM o
    ),
    s AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN rn = floor(0.5 * (n - 1)) + 1 THEN x END) AS lo50,
             MIN(CASE WHEN rn = ceil(0.5 * (n - 1)) + 1 THEN x END) AS hi50,
             MIN(CASE WHEN rn = floor(0.5 * (n - 1)) + 1
                 THEN 0.5 * (n - 1) - floor(0.5 * (n - 1)) END) AS fr50,
             MIN(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 THEN x END) AS lo90,
             MIN(CASE WHEN rn = ceil(0.9 * (n - 1)) + 1 THEN x END) AS hi90,
             MIN(CASE WHEN rn = floor(0.9 * (n - 1)) + 1
                 THEN 0.9 * (n - 1) - floor(0.9 * (n - 1)) END) AS fr90
      FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           lo50 AS p50_low, hi50 AS p50_high,
           ROUND(lo50 + fr50 * (hi50 - lo50), 6) AS p50_inc,
           lo90 AS p90_low, hi90 AS p90_high,
           ROUND(lo90 + fr90 * (hi90 - lo90), 6) AS p90_inc
    FROM s ORDER BY event_type
    """,
    "ClickHouse quantileExactLow/High/Inclusive definition family in "
    "one sorted pass: rank positions floor/ceil(p*(n-1)) picked by a "
    "row_number window (tie order cannot change the picked VALUE), "
    "interpolation is the single float step — "
    "operators/stats.py::quantile_definitions",
)
def q144(spark, sf_dir):
    from kubenetmon_spark.operators.stats import quantile_definitions

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    return quantile_definitions(o, ["event_type"], "x", (0.5, 0.9)).orderBy(
        "event_type"
    )


@_register(
    "q145_dict_hierarchy",
    """
    WITH RECURSIVE edges AS (
      SELECT 1000000 + c_custkey AS id, 2000000 + c_nationkey AS parent
      FROM customer
      UNION ALL
      SELECT 2000000 + n_nationkey, 3000000 + n_regionkey FROM nation
      UNION ALL
      SELECT 3000000 + r_regionkey, CAST(NULL AS BIGINT) FROM region
    ),
    walk(key, tip, path) AS (
      SELECT id, parent, CAST(id AS VARCHAR) FROM edges
      WHERE id >= 1000000 AND id < 2000000
      UNION ALL
      SELECT w.key, e.parent, w.path || '/' || CAST(w.tip AS VARCHAR)
      FROM walk w JOIN edges e ON e.id = w.tip
    ),
    done AS (SELECT key, path FROM walk WHERE tip IS NULL)
    SELECT key - 1000000 AS c_custkey,
           path AS path_str,
           CAST(1 + length(path) - length(replace(path, '/', ''))
                AS BIGINT) AS depth,
           ('/' || path || '/') LIKE '%/3000000/%' AS in_region0
    FROM done ORDER BY c_custkey
    """,
    "ClickHouse hierarchical dictionary (dictGetHierarchy + dictIsIn): "
    "customer -> nation -> region parent chains; the closure is "
    "flattened ONCE over the broadcast-size dictionary (rounds = "
    "depth, never per fact row), facts resolve in one broadcast join "
    "— operators/dicts.py; the oracle re-walks with a recursive CTE",
)
def q145(spark, sf_dir):
    from kubenetmon_spark.operators.dicts import dict_get_hierarchy, dict_is_in

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    edges = (
        cust.select(
            (F.col("c_custkey") + 1000000).alias("id"),
            (F.col("c_nationkey") + 2000000).alias("parent"),
        )
        .unionByName(
            nat.select(
                (F.col("n_nationkey") + 2000000).alias("id"),
                (F.col("n_regionkey") + 3000000).alias("parent"),
            )
        )
        .unionByName(
            reg.select(
                (F.col("r_regionkey") + 3000000).alias("id"),
                F.lit(None).cast("long").alias("parent"),
            )
        )
    )
    keys = cust.select(
        "c_custkey", (F.col("c_custkey") + 1000000).alias("key")
    )
    hier = dict_get_hierarchy(keys, edges, "key")
    return hier.select(
        "c_custkey",
        F.concat_ws("/", F.col("path")).alias("path_str"),
        F.size("path").cast("long").alias("depth"),
        dict_is_in(F.lit(3000000)).alias("in_region0"),
    ).orderBy("c_custkey")


@_register(
    "q147_aggregate_odds",
    """
    WITH o AS (
      SELECT event_type, user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
    ),
    uc AS (
      SELECT event_type,
             LEAST(COUNT(DISTINCT user_id), 11) AS uniq_up_to_10
      FROM o GROUP BY event_type
    ),
    br AS (
      SELECT event_type,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN_BY(y, x) AS y_first, MAX_BY(y, x) AS y_last
      FROM (SELECT event_type, x, MIN(y) AS y FROM o GROUP BY event_type, x)
      GROUP BY event_type
    ),
    md AS (
      SELECT event_type, user_id, COUNT(*) AS c
      FROM o GROUP BY event_type, user_id
    ),
    mode_pick AS (
      -- composite (c, -user_id) packed into one BIGINT: c dominates,
      -- smaller user_id wins ties (user_id << 1e8)
      SELECT event_type,
             MAX_BY(user_id, c * 100000000 - user_id) AS mode_user
      FROM md GROUP BY event_type
    )
    SELECT uc.event_type,
           CAST(uniq_up_to_10 AS BIGINT) AS uniq_up_to_10,
           ROUND(CAST(y_last - y_first AS DOUBLE)
                 / CAST(max_x - min_x AS DOUBLE), 6) AS bounding_ratio,
           CAST(mode_user AS BIGINT) AS mode_user
    FROM uc
    JOIN br ON br.event_type = uc.event_type
    JOIN mode_pick ON mode_pick.event_type = uc.event_type
    ORDER BY uc.event_type
    """,
    "ClickHouse uniqUpTo(10) (exact distinct capped at N+1), "
    "boundingRatio (slope between the extreme-x points; ties on x "
    "collapsed to min y so both engines pick the same endpoint), and a "
    "DETERMINISTIC anyHeavy (exact mode, ties to smallest id — "
    "ClickHouse's is sketchy by design, ours is reproducible)",
)
def q147(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        "user_id",
        F.col("ts").cast("long").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    uc = o.groupBy("event_type").agg(
        F.least(F.count_distinct("user_id"), F.lit(11)).alias("uniq_up_to_10")
    )
    per_x = o.groupBy("event_type", "x").agg(F.min("y").alias("y"))
    br = per_x.groupBy("event_type").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min_by("y", "x").alias("y_first"),
        F.max_by("y", "x").alias("y_last"),
    )
    md = o.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    mode_pick = md.groupBy("event_type").agg(
        F.max_by(
            "user_id", F.col("c") * 100000000 - F.col("user_id")
        ).alias("mode_user")
    )
    return (
        uc.join(br, "event_type")
        .join(mode_pick, "event_type")
        .select(
            "event_type",
            "uniq_up_to_10",
            F.round(
                (F.col("y_last") - F.col("y_first")).cast("double")
                / (F.col("max_x") - F.col("min_x")).cast("double"),
                6,
            ).alias("bounding_ratio"),
            "mode_user",
        )
        .orderBy("event_type")
    )


#: hexagon in the 0..1000 x 0..1000 synthetic coordinate space (odd
#: coordinates so the edge sign tests never meet data points head-on)
_HEX = [(501, 51), (901, 301), (901, 701), (501, 951), (101, 701), (101, 301)]


def _pip_sql_terms(xe: str, ye: str) -> str:
    terms = []
    n = len(_HEX)
    for i in range(n):
        ax, ay = _HEX[i]
        bx, by = _HEX[(i + 1) % n]
        if ay == by:
            continue
        spans = f"(({ay} > {ye}) != ({by} > {ye}))"
        t = f"({bx - ax} * ({ye} - {ay}) - ({xe} - {ax}) * {by - ay})"
        crosses = f"(({t} > 0) = {str(by > ay).upper()})"
        terms.append(f"CAST({spans} AND {crosses} AS INTEGER)")
    return " + ".join(terms)


@_register(
    "q146_point_in_polygon",
    f"""
    WITH pts AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 1000 AS x,
             (user_id * 37) % 1000 AS y
      FROM events
    ),
    t AS (
      SELECT event_type,
             ({_pip_sql_terms("x", "y")}) % 2 = 1 AS inside
      FROM pts WHERE x >= 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN inside THEN 1 END) AS BIGINT) AS n_inside,
           ROUND(COUNT(CASE WHEN inside THEN 1 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS share
    FROM t GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse pointInPolygon, exact: crossing-number parity with "
    "cross-multiplied sign tests (no division, no floats) over a fixed "
    "hexagon — a codegen expression chain per row, no join, no "
    "shuffle; negative-modulo rows filtered identically in both "
    "engines — operators/geo.py::point_in_polygon",
)
def q146(spark, sf_dir):
    from kubenetmon_spark.operators.geo import point_in_polygon

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            % 1000
        ).alias("x"),
        ((F.col("user_id") * 37) % 1000).alias("y"),
    ).filter(F.col("x") >= 0)
    t = pts.withColumn("inside", point_in_polygon("x", "y", _HEX))
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("inside"), 1)).alias("n_inside"),
        F.round(
            F.count(F.when(F.col("inside"), 1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("share"),
    ).orderBy("event_type")


@_register(
    "q148_rounding_family",
    """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type,
           -- roundToExp2: x < 1 -> 0 (ClickHouse contract; caught at
           -- sf0.1, which has value=0 rows that sf0.01 lacks)
           CAST(SUM(CASE WHEN cents < 1 THEN 0
                    ELSE 1::BIGINT << (length(bin(cents)) - 1) END)
                AS BIGINT) AS s_exp2,
           CAST(SUM(CASE WHEN user_id % 100 < 1 THEN 0
                    WHEN user_id % 100 < 18 THEN 17
                    WHEN user_id % 100 < 25 THEN 18
                    WHEN user_id % 100 < 35 THEN 25
                    WHEN user_id % 100 < 45 THEN 35
                    WHEN user_id % 100 < 55 THEN 45 ELSE 55 END) AS BIGINT)
             AS s_age,
           CAST(SUM(CASE WHEN cents % 40000 < 1 THEN 0
                    WHEN cents % 40000 < 10 THEN 1
                    WHEN cents % 40000 < 30 THEN 10
                    WHEN cents % 40000 < 60 THEN 30
                    WHEN cents % 40000 < 120 THEN 60
                    WHEN cents % 40000 < 180 THEN 120
                    WHEN cents % 40000 < 240 THEN 180
                    WHEN cents % 40000 < 300 THEN 240
                    WHEN cents % 40000 < 600 THEN 300
                    WHEN cents % 40000 < 1200 THEN 600
                    WHEN cents % 40000 < 1800 THEN 1200
                    WHEN cents % 40000 < 3600 THEN 1800
                    WHEN cents % 40000 < 7200 THEN 3600
                    WHEN cents % 40000 < 18000 THEN 7200
                    WHEN cents % 40000 < 36000 THEN 18000
                    ELSE 36000 END) AS BIGINT) AS s_dur,
           CAST(SUM(COALESCE(list_max(list_filter(
                 [0, 10, 50, 100, 250, 500, 750],
                 x -> x <= user_id % 1000)), 0)) AS BIGINT) AS s_down,
           CAST(SUM(CAST(round_even(cents / 4.0, 0) AS BIGINT)) AS BIGINT)
             AS s_bankers
    FROM e GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse rounding family — roundToExp2 (floor-log2 as a binary "
    "STRING length, never a float log), roundAge/roundDuration ladders, "
    "roundDown (largest array element <= x), roundBankers on cents/4 "
    "(exactly-representable quarters, so the half-to-even branch fires "
    "identically in both engines) — sql.py SQL UDFs, Catalyst-inlined",
)
def q148(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT event_type, user_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events
        )
        SELECT event_type,
               SUM(roundToExp2(cents)) AS s_exp2,
               SUM(roundAge(user_id % 100)) AS s_age,
               SUM(roundDuration(cents % 40000)) AS s_dur,
               SUM(roundDown(user_id % 1000,
                   array(CAST(0 AS BIGINT), 10, 50, 100, 250, 500, 750)))
                 AS s_down,
               SUM(CAST(roundBankers(CAST(cents AS DOUBLE) / 4)
                   AS BIGINT)) AS s_bankers
        FROM e GROUP BY event_type ORDER BY event_type
        """
    )


@_register(
    "q149_bit_functions",
    """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type,
           CAST(SUM(bit_count(cents)) AS BIGINT) AS s_popcnt,
           CAST(SUM((cents >> 5) & 1) AS BIGINT) AS s_bit5,
           CAST(SUM(bit_count(xor(cents, user_id))) AS BIGINT) AS s_hamm,
           CAST(SUM(((cents % 4294967296 << 7) % 4294967296)
               + (cents % 4294967296 >> 25)) AS BIGINT) AS s_rot,
           CAST(SUM(1::BIGINT << CAST(user_id % 20 AS INTEGER)) AS BIGINT)
             AS s_iexp2,
           CAST(SUM(CAST('1' || repeat('0', CAST(user_id % 10 AS INTEGER))
               AS BIGINT)) AS BIGINT) AS s_iexp10,
           MAX(upper(to_hex(cents))) AS hex_max,
           MAX(to_base64(encode(event_type))) AS b64
    FROM e GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse bit/encoding family — bitCount, bitTest, "
    "bitHammingDistance, bitRotateLeft32, intExp2, intExp10, "
    "base64Encode, native hex — all integer-exact sql.py SQL UDFs "
    "inlined into one hash aggregation (hex/unhex/bin are Spark "
    "builtins under the ClickHouse names already)",
)
def q149(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT event_type, user_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events
        )
        SELECT event_type,
               SUM(bitCount(cents)) AS s_popcnt,
               SUM(bitTest(cents, 5)) AS s_bit5,
               SUM(bitHammingDistance(cents, user_id)) AS s_hamm,
               SUM(bitRotateLeft32(cents, 7)) AS s_rot,
               SUM(intExp2(CAST(user_id % 20 AS INT))) AS s_iexp2,
               SUM(intExp10(CAST(user_id % 10 AS INT))) AS s_iexp10,
               MAX(hex(cents)) AS hex_max,
               MAX(base64Encode(event_type)) AS b64
        FROM e GROUP BY event_type ORDER BY event_type
        """
    )


@_register(
    "q150_ip_ranges",
    """
    WITH e AS (
      SELECT event_type,
             (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              * 2654435761 + user_id) % 4294967296 AS ip
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN ip // 16777216 = 10 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_10,
           CAST(SUM(CASE WHEN ip // 1048576 = 2753 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_172,
           CAST(SUM(CASE WHEN ip // 65536 = 49320 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_192,
           CAST(SUM(ip - ip % 256) AS BIGINT) AS s_lo,
           CAST(SUM(255) AS BIGINT) AS s_span
    FROM e GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse IP-range family — isIPAddressInRange over RFC1918 CIDR "
    "literals (dotted-quad parse inlined into codegen) and "
    "IPv4CIDRToRange struct results; the oracle re-derives membership "
    "with pure integer division. Complements the LPM join (q10): this "
    "is the scalar per-row form a migrating user writes in ad-hoc SQL",
)
def q150(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT event_type,
                 (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * 2654435761 + user_id) % 4294967296 AS ip
          FROM events
        )
        SELECT event_type,
               SUM(CASE WHEN isIPAddressInRange(IPv4NumToString(ip),
                   '10.0.0.0/8') THEN 1 ELSE 0 END) AS n_10,
               SUM(CASE WHEN isIPAddressInRange(IPv4NumToString(ip),
                   '172.16.0.0/12') THEN 1 ELSE 0 END) AS n_172,
               SUM(CASE WHEN isIPAddressInRange(IPv4NumToString(ip),
                   '192.168.0.0/16') THEN 1 ELSE 0 END) AS n_192,
               SUM(IPv4CIDRToRange(ip, 24).lo) AS s_lo,
               SUM(IPv4CIDRToRange(ip, 24).hi
                   - IPv4CIDRToRange(ip, 24).lo) AS s_span
        FROM e GROUP BY event_type ORDER BY event_type
        """
    )


def _geohash_oracle_sql() -> str:
    from kubenetmon_spark.sql import geohash6_sql

    gh = geohash6_sql("lon", "lat")
    return f"""
    WITH pts AS (
      SELECT ((user_id * 77) % 720) / 2.0 - 180 + 0.25 AS lon,
             ((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 360))
               / 2.0 - 90 + 0.25 AS lat
      FROM events
    )
    SELECT {gh} AS gh, CAST(COUNT(*) AS BIGINT) AS n
    FROM pts GROUP BY 1 ORDER BY gh
    """


@_register(
    "q151_geohash",
    _geohash_oracle_sql(),
    "ClickHouse geohashEncode (fixed precision 6): cell indices from an "
    "IEEE-identical float chain, then pure integer interleave + base32 "
    "substring — the SAME generated SQL body (sql.py::geohash6_sql) "
    "runs as the Spark SQL UDF and as the DuckDB oracle, so parity is "
    "by construction; grouping by geohash = the spatial-bucketing use",
)
def q151(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH pts AS (
          SELECT ((user_id * 77) % 720) / 2.0 - 180 + 0.25 AS lon,
                 ((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   % 360)) / 2.0 - 90 + 0.25 AS lat
          FROM events
        )
        SELECT geohashEncode(lon, lat) AS gh, COUNT(*) AS n
        FROM pts GROUP BY 1 ORDER BY gh
        """
    )


_NGRAM_PROBE = "merge batch value row"
_LEV_PROBE = "merge batch row"


@_register(
    "q152_string_similarity",
    f"""
    WITH d AS (SELECT doc_id, source, text FROM documents),
    g AS (
      SELECT doc_id, substring(text, CAST(i AS INTEGER), 3) AS gram
      FROM d, UNNEST(generate_series(1, greatest(length(text) - 2, 0))) u(i)
    ),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
    p AS (
      SELECT substring('{_NGRAM_PROBE}', CAST(i AS INTEGER), 3) AS gram,
             COUNT(*) AS pc
      FROM UNNEST(generate_series(1, {len(_NGRAM_PROBE) - 2})) u(i)
      GROUP BY 1
    ),
    com AS (
      SELECT doc_id, SUM(LEAST(c, pc)) AS common
      FROM gc JOIN p USING (gram) GROUP BY 1
    ),
    per AS (
      SELECT d.doc_id, d.source,
             greatest(length(d.text) - 2, 0) + {len(_NGRAM_PROBE) - 2}
               AS denom,
             COALESCE(com.common, 0) AS common,
             levenshtein(substring(d.text, 1, 16), '{_LEV_PROBE}') AS lev
      FROM d LEFT JOIN com USING (doc_id)
    )
    SELECT source,
           CAST(SUM((denom - 2 * common) * 10000 // denom) AS BIGINT)
             AS s_ngram_bp,
           CAST(SUM(CASE WHEN (denom - 2 * common) * 10000 // denom < 9000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
           CAST(SUM(lev) AS BIGINT) AS s_lev,
           CAST(MIN(lev) AS BIGINT) AS min_lev
    FROM per GROUP BY source ORDER BY source
    """,
    "ClickHouse string-similarity family — ngramDistance against a "
    "constant probe (exact integer multiset symmetric difference in "
    "basis points; per-doc gram counts -> broadcast probe join, the "
    "corpus never broadcast-sides) plus levenshteinDistance (native "
    "codegen in both engines) — "
    "operators/text.py::ngram_distance_to_probe",
)
def q152(spark, sf_dir):
    from kubenetmon_spark.operators.text import ngram_distance_to_probe

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = ngram_distance_to_probe(
        d, "doc_id", "text", _NGRAM_PROBE, n=3
    ).withColumn(
        "lev",
        F.levenshtein(F.substring(F.col("text"), 1, 16), F.lit(_LEV_PROBE)),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("ngram_dist_bp").alias("s_ngram_bp"),
            F.sum(
                F.when(F.col("ngram_dist_bp") < 9000, 1).otherwise(0)
            ).alias("n_close"),
            F.sum("lev").alias("s_lev"),
            F.min("lev").alias("min_lev"),
        )
        .orderBy("source")
    )


@_register(
    "q153_transform_enumerate",
    """
    WITH m AS (
      SELECT user_id,
             CASE event_type
               WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
               WHEN 'purchase' THEN 'p' ELSE '?' END AS t,
             CASE WHEN event_type = 'click' THEN 'C'
                  WHEN value > 400 THEN 'HI' ELSE 'other' END AS mi,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS occ
      FROM events
    )
    SELECT t, mi,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(occ) AS BIGINT) AS s_occ,
           CAST(MAX(occ) AS BIGINT) AS max_occ
    FROM m GROUP BY t, mi ORDER BY t, mi
    """,
    "ClickHouse conditional family + arrayEnumerateUniq: transform() "
    "(registered as its alias caseWithExpression — 'transform' would "
    "shadow Spark's lambda builtin), multiIf, and per-key occurrence "
    "numbering (arrayEnumerateUniq over the per-user event sequence = "
    "one row_number window, no arrays materialized)",
)
def q153(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH m AS (
          SELECT user_id,
                 caseWithExpression(event_type,
                   array('click', 'view', 'purchase'),
                   array('c', 'v', 'p'), '?') AS t,
                 multiIf(event_type = 'click', 'C',
                         value > 400, 'HI', 'other') AS mi,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS occ
          FROM events
        )
        SELECT t, mi, COUNT(*) AS n, SUM(occ) AS s_occ, MAX(occ) AS max_occ
        FROM m GROUP BY t, mi ORDER BY t, mi
        """
    )


@_register(
    "q154_quantile_timing",
    """
    WITH m AS (
      SELECT event_type,
             CASE WHEN v < 1024 THEN v
                  WHEN v <= 30000 THEN v - v % 16
                  ELSE 30000 END AS tb
      FROM (SELECT event_type,
                   greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100
                            AS BIGINT), 0) AS v
            FROM events)
    ),
    c AS (SELECT event_type, tb, COUNT(*) AS w FROM m GROUP BY 1, 2),
    x AS (
      SELECT event_type, tb,
             SUM(w) OVER (PARTITION BY event_type ORDER BY tb) AS cumw,
             SUM(w) OVER (PARTITION BY event_type) AS totw
      FROM c
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 50 THEN tb END)
             AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 90 THEN tb END)
             AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN cumw * 100 >= totw * 99 THEN tb END)
             AS BIGINT) AS p99
    FROM x GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse quantileTiming: exact below 1024 ms, 16 ms buckets to "
    "30 s, saturating above — the bucket map is a pure integer "
    "expression and the quantile is the exact lower-bound weighted "
    "quantile over bucket HISTOGRAMS (the hash agg shrinks 100 TB of "
    "rows to <= ~3k buckets per group before any sort) — "
    "operators/agg.py::quantile_timing; cents stand in for milliseconds "
    "so all three bands are exercised",
)
def q154(spark, sf_dir):
    from kubenetmon_spark.operators.agg import quantile_timing

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "ms"
        ),
    )
    out = quantile_timing(ev, ["event_type"], "ms", [50, 90, 99])
    return out.orderBy("event_type")


@_register(
    "q155_gopher_rules",
    r"""
    WITH d AS (
      SELECT source,
             regexp_split_to_array(trim(text), '\s+') AS words,
             trim(text) AS t,
             text
      FROM documents
    ),
    m AS (
      SELECT source,
             len(words) AS n,
             length(regexp_replace(t, '\s+', '', 'g')) AS total_len,
             len(regexp_extract_all(t, '#'))
               + len(regexp_extract_all(t, '\.\.\.')) AS n_sym,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
               AS n_alpha,
             (CASE WHEN regexp_matches(t, '(^|\s)the(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)be(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)to(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)of(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)and(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)that(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)have(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)with(\s|$)') THEN 1 ELSE 0 END)
               AS n_stop
      FROM d
    ),
    f AS (
      SELECT source,
             CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS wc_ok,
             CASE WHEN total_len >= 3 * n AND total_len <= 10 * n
               THEN 1 ELSE 0 END AS ml_ok,
             CASE WHEN n_sym * 10 <= n THEN 1 ELSE 0 END AS sym_ok,
             CASE WHEN n_alpha * 100 >= n * 80 THEN 1 ELSE 0 END AS al_ok,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS st_ok
      FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(wc_ok) AS BIGINT) AS n_word_ok,
           CAST(SUM(ml_ok) AS BIGINT) AS n_meanlen_ok,
           CAST(SUM(sym_ok) AS BIGINT) AS n_symbol_ok,
           CAST(SUM(al_ok) AS BIGINT) AS n_alpha_ok,
           CAST(SUM(st_ok) AS BIGINT) AS n_stop_ok,
           CAST(SUM(wc_ok * ml_ok * sym_ok * al_ok * st_ok) AS BIGINT)
             AS n_pass
    FROM f GROUP BY source ORDER BY source
    """,
    "the Gopher quality-filter rule set (Rae et al. 2021 App. A1.1) as "
    "integer-exact flags: word count, cross-multiplied mean word "
    "length, symbol ratio, alpha-word fraction, stopword presence — "
    "one codegen expression chain per row that fuses into the scan at "
    "100 TB — operators/text.py::with_gopher_rules (bullet/ellipsis "
    "line rules default-pass on the newline-free synthetic corpus)",
)
def q155(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_gopher_rules

    d = _t(spark, sf_dir, "documents").select("source", "text")
    g = with_gopher_rules(d)
    b = lambda c: F.col(c).cast("int")  # noqa: E731
    return (
        g.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(b("g_word_count_ok")).alias("n_word_ok"),
            F.sum(b("g_mean_len_ok")).alias("n_meanlen_ok"),
            F.sum(b("g_symbol_ok")).alias("n_symbol_ok"),
            F.sum(b("g_alpha_ok")).alias("n_alpha_ok"),
            F.sum(b("g_stopword_ok")).alias("n_stop_ok"),
            F.sum(b("gopher_pass")).alias("n_pass"),
        )
        .orderBy("source")
    )


@_register(
    "q156_group_array_misc",
    """
    WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
    ranked AS (
      SELECT event_type, user_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(user_id AS VARCHAR) || '|s0'), user_id
             ) AS rn
      FROM pairs
    ),
    samp AS (
      SELECT event_type,
             string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id)
               AS sample_csv
      FROM ranked WHERE rn <= 5 GROUP BY event_type
    ),
    slots AS (
      SELECT event_type, user_id % 8 AS pos,
             MIN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    ins AS (
      SELECT event_type,
             COALESCE(CAST(MIN(CASE WHEN pos = 0 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 1 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 2 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 3 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 4 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 5 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 6 THEN v END) AS VARCHAR), '-')
             || '|' || COALESCE(CAST(MIN(CASE WHEN pos = 7 THEN v END) AS VARCHAR), '-')
               AS insert_at
      FROM slots GROUP BY event_type
    )
    SELECT samp.event_type, sample_csv, insert_at
    FROM samp JOIN ins ON samp.event_type = ins.event_type
    ORDER BY samp.event_type
    """,
    "groupArraySample as a DETERMINISTIC md5-rank draw over distinct "
    "elements (same sample every run, every engine — "
    "operators/agg.py::group_array_sample) and groupArrayInsertAt as "
    "slot-scatter with default fill (8 conditional mins in one hash "
    "agg, no array state)",
)
def q156(spark, sf_dir):
    from kubenetmon_spark.operators.agg import group_array_sample

    ev = _t(spark, sf_dir, "events")
    samp = group_array_sample(ev, ["event_type"], "user_id", 5).select(
        "event_type",
        F.concat_ws(",", F.transform(
            F.col("sample"), lambda x: x.cast("string")
        )).alias("sample_csv"),
    )
    slots = ev.groupBy(
        "event_type", (F.col("user_id") % 8).alias("pos")
    ).agg(
        F.min(
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
        ).alias("v")
    )
    parts = [
        F.coalesce(
            F.min(F.when(F.col("pos") == i, F.col("v"))).cast("string"),
            F.lit("-"),
        )
        for i in range(8)
    ]
    ins = slots.groupBy("event_type").agg(
        F.concat_ws("|", *parts).alias("insert_at")
    )
    return samp.join(ins, "event_type").orderBy("event_type")


@_register(
    "q157_sequence_match_timed",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
    ),
    users AS (SELECT DISTINCT user_id FROM e),
    m AS (
      SELECT u.user_id,
             EXISTS (
               SELECT 1 FROM e a, e b, e c
               WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                 AND c.user_id = u.user_id
                 AND a.event_type = 'click' AND b.event_type = 'view'
                 AND c.event_type = 'purchase'
                 AND b.s > a.s AND c.s > b.s
                 AND b.s - a.s <= 21600 AND c.s - b.s <= 43200
             ) AS matched
      FROM users u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched
    FROM m
    """,
    "ClickHouse sequenceMatch with PER-GAP time bounds — "
    "'(?1)(?t<=6h)(?2)(?t<=12h)(?3)' — via the greedy running-max "
    "cascade (latest feasible chain completion minimizes the next gap, "
    "so one window per step decides existence exactly; proof in the "
    "docstring): one shuffle+sort per user total, while the oracle pays "
    "a cubic self-join — operators/funnel.py::sequence_match_timed",
)
def q157(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import sequence_match_timed

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    m = sequence_match_timed(
        ev, ["click", "view", "purchase"], [21600, 43200]
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("matched").cast("int")).alias("n_matched"),
    )


@_register(
    "q158_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(6,4))) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                           AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: a five-way join with a disjunctive cross-nation "
    "pair predicate — the nation pair filter lands on BOTH broadcast "
    "dims before the fact joins, so the big tables only join rows that "
    "can survive; exact decimal volume arithmetic",
)
def q158(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice").cast(DEC2) * (
        F.lit(1) - F.col("l_discount").cast(RATE)
    )
    # supplier+nation1 and customer+nation2 shrink FIRST (the pair
    # predicate cuts both dims to two nations before any fact join)
    sn = supp.join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cn = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    oc = orders.join(cn, orders.o_custkey == cn.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    out = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(oc, li.l_orderkey == oc.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dbl2(F.sum("volume")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )
    return out


@_register(
    "q159_array_set_functions",
    """
    WITH t AS (
      SELECT user_id, list_sort(list_distinct(list(event_type))) AS types
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             ts, event_id
      FROM events
    ),
    cum AS (
      SELECT user_id,
             SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cs,
             ts, event_id
      FROM c
    ),
    d AS (
      SELECT user_id,
             md5(string_agg(CAST(cs AS VARCHAR), ','
                            ORDER BY ts, event_id)) AS cum_digest
      FROM cum GROUP BY user_id
    )
    SELECT t.user_id,
           list_has_all(types, ['click', 'view']) AS has_all,
           list_has_any(types, ['error', 'signup']) AS has_any,
           CAST(len(list_intersect(types, ['click', 'purchase', 'error']))
             AS BIGINT) AS n_inter,
           CAST(len(list_distinct(list_concat(types,
             ['click', 'purchase', 'error']))) AS BIGINT) AS n_union,
           cum_digest
    FROM t JOIN d ON t.user_id = d.user_id
    ORDER BY t.user_id
    """,
    "ClickHouse array set functions — hasAll/hasAny/arrayIntersect/"
    "arrayUnion over per-user type sets (native array_except/"
    "arrays_overlap/array_intersect/array_union, one hash agg) — plus "
    "arrayCumSum reproduced scale-correctly: a running-sum WINDOW over "
    "the same sort instead of a quadratic per-array prefix loop, "
    "digested per user for exact comparison",
)
def q159(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    types = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    lit_av = F.array(F.lit("click"), F.lit("view"))
    lit_es = F.array(F.lit("error"), F.lit("signup"))
    lit_cpe = F.array(F.lit("click"), F.lit("purchase"), F.lit("error"))
    sets = types.select(
        "user_id",
        (F.size(F.array_except(lit_av, F.col("types"))) == 0).alias("has_all"),
        F.arrays_overlap(F.col("types"), lit_es).alias("has_any"),
        F.size(F.array_intersect(F.col("types"), lit_cpe)).alias("n_inter"),
        F.size(F.array_union(F.col("types"), lit_cpe)).alias("n_union"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ev.withColumn("cs", F.sum("cents").over(w))
    digest = cum.groupBy("user_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "cs"))
                    ),
                    lambda s: s["cs"].cast("string"),
                ),
            )
        ).alias("cum_digest")
    )
    return sets.join(digest, "user_id").orderBy("user_id")


@_register(
    "q160_json_family",
    """
    WITH j AS (
      SELECT event_type,
             '{"a": ' || CAST(user_id AS VARCHAR)
             || ', "b": "' || event_type
             || '", "flag": ' || CASE WHEN user_id % 2 = 0
                  THEN 'true' ELSE 'false' END
             || ', "arr": [' || CAST(user_id AS VARCHAR) || ', '
             || CAST(event_id % 7 AS VARCHAR) || ']}' AS doc
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CAST(json_extract(doc, '$.a') AS BIGINT)) AS BIGINT)
             AS s_a,
           MAX(json_extract_string(doc, '$.b')) AS max_b,
           CAST(SUM(CASE WHEN CAST(json_extract(doc, '$.flag') AS BOOLEAN)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
           CAST(SUM(json_array_length(doc, '$.arr')) AS BIGINT) AS s_len,
           CAST(SUM(CASE WHEN json_extract(doc, '$.missing') IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM j GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse typed JSON extraction — JSONExtractInt/String/Bool, "
    "JSONHas, JSONLength as inlined SQL UDFs over get_json_object "
    "(codegen JsonPath evaluation, no Python) — the document is "
    "composed per row so every branch (typed hit, bool cast, array "
    "length, missing key) is exercised",
)
def q160(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface
    from kubenetmon_spark.tables import fanout

    register_sql_surface(spark, sf_dir)
    # the JSON map stage runs five get_json_object parses per row and
    # the events file arrives as one split, so it was single-core
    # (~22us/row measured); floor its parallelism via the shared
    # scale-adaptive helper — no exchange once splits >= cores (r7)
    fanout(spark.table("events")).createOrReplaceTempView("events_fanout_q160")
    return spark.sql(
        """
        WITH j AS (
          SELECT event_type,
                 concat('{"a": ', CAST(user_id AS STRING),
                        ', "b": "', event_type,
                        '", "flag": ',
                        CASE WHEN user_id % 2 = 0 THEN 'true'
                             ELSE 'false' END,
                        ', "arr": [', CAST(user_id AS STRING), ', ',
                        CAST(event_id % 7 AS STRING), ']}') AS doc
          FROM events_fanout_q160
        )
        SELECT event_type,
               SUM(JSONExtractInt(doc, 'a')) AS s_a,
               MAX(JSONExtractString(doc, 'b')) AS max_b,
               SUM(CASE WHEN JSONExtractBool(doc, 'flag')
                   THEN 1 ELSE 0 END) AS n_flag,
               SUM(JSONLength(doc, 'arr')) AS s_len,
               SUM(CASE WHEN JSONHas(doc, 'missing')
                   THEN 1 ELSE 0 END) AS n_missing
        FROM j GROUP BY event_type ORDER BY event_type
        """
    )


@_register(
    "q161_vector_distances",
    """
    WITH p AS (
      SELECT list_transform(range(0, 64), i -> (i * 37) % 100 - 50) AS pv
    ),
    e AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS ev
      FROM embeddings
    ),
    d AS (
      SELECT label,
             list_sum(list_transform(range(1, 65),
               i -> ev[CAST(i AS INTEGER)] * pv[CAST(i AS INTEGER)]))
               AS dot,
             list_sum(list_transform(range(1, 65),
               i -> (ev[CAST(i AS INTEGER)] - pv[CAST(i AS INTEGER)])
                    * (ev[CAST(i AS INTEGER)] - pv[CAST(i AS INTEGER)])))
               AS l2sq,
             list_sum(list_transform(ev, x -> x * x)) AS na,
             list_sum(list_transform(pv, x -> x * x)) AS nb
      FROM e, p
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dot) AS BIGINT) AS s_dot,
           CAST(SUM(l2sq) AS BIGINT) AS s_l2sq,
           CAST(SUM(CASE WHEN na = 0 OR nb = 0 THEN 0
                ELSE CAST(floor((CAST(dot AS DOUBLE) * 10000.0)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
                     AS BIGINT) END) AS BIGINT) AS s_cos_bp
    FROM d GROUP BY label ORDER BY label
    """,
    "ClickHouse vector-distance function surface — dotProduct, "
    "L2SquaredDistance, cosineDistance — EXACT via integer-scaled "
    "vectors (floor(x*1e6): float32 widening + one multiply are IEEE-"
    "exact) folded JVM-side with zip_with/aggregate; the only float "
    "steps are two correctly-rounded sqrts written identically in the "
    "oracle — operators/similarity.py::dot_product_int/l2_squared_int/"
    "cosine_similarity_bp",
)
def q161(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import (
        cosine_similarity_bp,
        dot_product_int,
        int_scaled_vec,
        l2_squared_int,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probe = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: ((i * 37) % 100 - 50).cast("bigint"),
    )
    e = emb.select(
        "label",
        int_scaled_vec(F.col("embedding")).alias("ev"),
        probe.alias("pv"),
    )
    d = e.select(
        "label",
        dot_product_int(F.col("ev"), F.col("pv")).alias("dot"),
        l2_squared_int(F.col("ev"), F.col("pv")).alias("l2sq"),
        cosine_similarity_bp(F.col("ev"), F.col("pv")).alias("cos_bp"),
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dot").alias("s_dot"),
            F.sum("l2sq").alias("s_l2sq"),
            F.sum("cos_bp").alias("s_cos_bp"),
        )
        .orderBy("label")
    )


@_register(
    "q162_multiset_ops",
    """
    WITH a AS (SELECT user_id % 50 AS v FROM events
               WHERE event_type = 'click'),
    b AS (SELECT user_id % 50 AS v FROM events
          WHERE event_type = 'view'),
    i AS (SELECT v FROM a INTERSECT ALL SELECT v FROM b),
    x AS (SELECT v FROM a EXCEPT ALL SELECT v FROM b)
    SELECT 'intersect_all' AS op,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(v), 0) AS BIGINT) AS s,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS nd
    FROM i
    UNION ALL
    SELECT 'except_all' AS op,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(v), 0) AS BIGINT) AS s,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS nd
    FROM x
    ORDER BY op
    """,
    "multiset set operations — INTERSECT ALL keeps min(multiplicity), "
    "EXCEPT ALL subtracts multiplicities (native intersectAll/exceptAll; "
    "Spark plans both as a count-compare aggregation + generate, no "
    "sort) — completes q33's DISTINCT-only set-op row",
)
def q162(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        (F.col("user_id") % 50).alias("v")
    )
    b = ev.filter(F.col("event_type") == "view").select(
        (F.col("user_id") % 50).alias("v")
    )

    def summarize(df, op):
        return df.agg(
            F.lit(op).alias("op"),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("v"), F.lit(0)).alias("s"),
            F.count_distinct(F.col("v")).alias("nd"),
        ).select("op", "n", "s", "nd")

    return summarize(a.intersectAll(b), "intersect_all").unionByName(
        summarize(a.exceptAll(b), "except_all")
    ).orderBy("op")


@_register(
    "q163_ignore_nulls_fill",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS v
      FROM events
    ),
    f AS (
      SELECT user_id, ts, event_id, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS ff,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS fv
      FROM e
    )
    SELECT user_id,
           md5(string_agg(COALESCE(CAST(ff AS VARCHAR), '-'), ','
               ORDER BY ts, event_id)) AS fill_digest,
           CAST(SUM(CASE WHEN v IS NULL AND ff IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(MIN(fv) AS BIGINT) AS first_obs
    FROM f GROUP BY user_id ORDER BY user_id
    """,
    "IGNORE NULLS window family — last_value IGNORE NULLS is the "
    "forward-fill (last-observation-carried-forward) idiom over sparse "
    "measurements; first_value IGNORE NULLS gives the first real "
    "observation — one shuffle+sort per user, both frames share it; "
    "digested per user for exact comparison",
)
def q163(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"),
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = ev.withColumn(
        "ff", F.last("v", ignorenulls=True).over(w)
    ).withColumn("fv", F.first("v", ignorenulls=True).over(w))
    return (
        f.groupBy("user_id")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "ff")
                            )
                        ),
                        lambda s: F.coalesce(
                            s["ff"].cast("string"), F.lit("-")
                        ),
                    ),
                )
            ).alias("fill_digest"),
            F.sum(
                (F.col("v").isNull() & F.col("ff").isNotNull()).cast("int")
            ).alias("n_filled"),
            F.min("fv").alias("first_obs"),
        )
        .orderBy("user_id")
    )


@_register(
    "q164_map_functions",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           '{' || string_agg('"' || event_type || '":' || cnt, ','
                             ORDER BY event_type) || '}' AS m_json,
           COALESCE('{' || string_agg('"' || event_type || '":' || cnt,
                    ',' ORDER BY event_type)
                    FILTER (WHERE cnt >= 3) || '}', '{}') AS filtered_json,
           '{' || string_agg('"' || event_type || '":' || cnt * 2, ','
                             ORDER BY event_type) || '}' AS doubled_json,
           CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
             AS BOOLEAN) AS has_click,
           CAST(SUM(cnt) AS BIGINT) AS total
    FROM c GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse map function family — mapFilter / mapApply / "
    "mapContains / map value aggregation — via native map_filter, "
    "transform_values, map_keys, aggregate over a canonically-built "
    "map (sorted entries, so to_json is deterministic — the same "
    "canonicalization the flags group key uses); the oracle builds the "
    "identical JSON strings from the flat counts",
)
def q164(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    filtered = F.map_filter(F.col("m"), lambda k, v: v >= 3)
    doubled = F.transform_values(F.col("m"), lambda k, v: v * 2)
    total = F.aggregate(
        F.map_values(F.col("m")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return m.select(
        "user_id",
        F.to_json(F.col("m")).alias("m_json"),
        F.to_json(filtered).alias("filtered_json"),
        F.to_json(doubled).alias("doubled_json"),
        F.array_contains(F.map_keys(F.col("m")), "click").alias(
            "has_click"
        ),
        total.alias("total"),
    ).orderBy("user_id")


#: shared oracle CTE chain replaying knn_join's IVF pipeline in SQL
#: (q165 neighbors; q271 extends with label votes)
_KNN_IVF_CTES = """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS ev
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, ev AS cv FROM e WHERE vec_id < 16),
    ascore AS (
      SELECT e.vec_id, e.ev, cent.cid,
             list_sum(list_transform(range(1, 65),
               i -> ev[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) AS s
      FROM e, cent
    ),
    assigned AS (
      SELECT vec_id, ev, cid FROM (
        SELECT vec_id, ev, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid) AS rn
        FROM ascore
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, ev AS qv FROM e WHERE vec_id % 10 = 0),
    pscore AS (
      SELECT q.qid, q.qv, cent.cid,
             list_sum(list_transform(range(1, 65),
               i -> qv[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) AS s
      FROM q, cent
    ),
    probes AS (
      SELECT qid, qv, cid FROM (
        SELECT qid, qv, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY s DESC, cid) AS rn
        FROM pscore
      ) WHERE rn <= 4
    ),
    cands AS (
      SELECT p.qid, a.vec_id AS nbr_id,
             list_sum(list_transform(range(1, 65),
               i -> qv[CAST(i AS INTEGER)] * ev[CAST(i AS INTEGER)])) AS score
      FROM probes p JOIN assigned a USING (cid)
      WHERE a.vec_id != p.qid
    )"""


@_register(
    "q165_knn_join",
    f"""
{_KNN_IVF_CTES},
    ranked AS (
      SELECT qid, nbr_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, nbr_id) AS rank
      FROM cands
    )
    SELECT qid AS query_id, nbr_id, CAST(score AS BIGINT) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    "batch kNN JOIN (the all-pairs ANN form): deterministic flat IVF — "
    "corpus assigned to its argmax centroid and shuffled ONCE on the "
    "centroid id (the partition layout you'd persist at 100 TB), "
    "queries explode to their n_probe best centroids, candidates are "
    "one equi-join per inverted list, exact integer dot products, "
    "per-query top-k window — operators/similarity.py::knn_join; the "
    "oracle replays the identical pipeline in SQL",
)
def q165(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_join(emb, queries, k=5, n_centroids=16, n_probe=4)
    return out.orderBy("query_id", "rank")


@_register(
    "q166_paste_join",
    """
    WITH a AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS click_c,
             event_id AS click_id
      FROM events WHERE event_type = 'click'
      ORDER BY click_c DESC, click_id LIMIT 100
    ),
    b AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS view_c,
             event_id AS view_id
      FROM events WHERE event_type = 'view'
      ORDER BY view_c DESC, view_id LIMIT 100
    ),
    ia AS (SELECT click_c, click_id,
                  ROW_NUMBER() OVER (ORDER BY click_c DESC, click_id) - 1
                    AS pos FROM a),
    ib AS (SELECT view_c, view_id,
                  ROW_NUMBER() OVER (ORDER BY view_c DESC, view_id) - 1
                    AS pos FROM b)
    SELECT CAST(ia.pos AS BIGINT) AS pos, click_c, view_c,
           CAST(click_c - view_c AS BIGINT) AS diff
    FROM ia JOIN ib ON ia.pos = ib.pos
    ORDER BY pos
    """,
    "ClickHouse PASTE JOIN (positional zip) — the Q-Q-plot idiom: the "
    "ranked click and view distributions joined rank-for-rank. Global "
    "indices come from zipWithIndex over a distributed sort (one "
    "per-partition offset pass), NEVER a partitionless row_number — "
    "operators/joins.py::paste_join",
)
def q166(spark, sf_dir):
    from kubenetmon_spark.operators.joins import paste_join

    ev = _t(spark, sf_dir, "events")
    cents = F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
    a = (
        ev.filter(F.col("event_type") == "click")
        .select(cents.alias("click_c"), F.col("event_id").alias("click_id"))
        .orderBy(F.desc("click_c"), "click_id")
        .limit(100)
    )
    b = (
        ev.filter(F.col("event_type") == "view")
        .select(cents.alias("view_c"), F.col("event_id").alias("view_id"))
        .orderBy(F.desc("view_c"), "view_id")
        .limit(100)
    )
    # pack (cents DESC, id ASC) into one ascending sort key (ids < 1e5)
    z = paste_join(
        a.withColumn("_o", -F.col("click_c") * 100000 + F.col("click_id")),
        b.withColumn("_p", -F.col("view_c") * 100000 + F.col("view_id")),
        ["_o"],
        ["_p"],
    )
    return z.select(
        "pos", "click_c", "view_c",
        (F.col("click_c") - F.col("view_c")).alias("diff"),
    ).orderBy("pos")


@_register(
    "q167_with_fill_numeric",
    """
    WITH c AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000
               AS b,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type, CAST(g.b AS BIGINT) AS b
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT UNNEST(generate_series(0, 9)) AS b) g
    )
    SELECT grid.event_type AS event_type, grid.b AS b,
           CAST(COALESCE(n, 0) AS BIGINT) AS n
    FROM grid LEFT JOIN c
      ON grid.event_type = c.event_type AND grid.b = c.b
    ORDER BY grid.event_type, grid.b
    """,
    "ORDER BY ... WITH FILL STEP over a NUMERIC axis (q39 covers the "
    "time axis): the bucket grid is sequence()+explode per group, "
    "missing buckets fill with 0 via a left join — grid side is "
    "|groups| x |steps| rows, never fact-scale",
)
def q167(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint) div 5000"
        ).alias("b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("b"),
        )
        .withColumn("b", F.col("b").cast("bigint"))
    )
    return (
        grid.join(c, ["event_type", "b"], "left")
        .select(
            "event_type", "b", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
        .orderBy("event_type", "b")
    )


_PHRASE = "merge batch"


@_register(
    "q168_phrase_search",
    f"""
    WITH d AS (SELECT doc_id, source, lower(trim(text)) AS t
               FROM documents),
    toks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) - 1 AS pos,
             regexp_split_to_array(t, '\\s+')[CAST(i AS INTEGER)] AS token
      FROM d, UNNEST(generate_series(1,
             len(regexp_split_to_array(t, '\\s+')))) u(i)
    ),
    offs AS (
      SELECT 'merge' AS token, 0 AS j UNION ALL
      SELECT 'batch' AS token, 1 AS j
    ),
    cand AS (
      SELECT toks.doc_id, pos - j AS anchor, j
      FROM toks JOIN offs USING (token) WHERE pos - j >= 0
    ),
    occ AS (
      SELECT doc_id, anchor FROM cand
      GROUP BY doc_id, anchor HAVING COUNT(DISTINCT j) = 2
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_occ FROM occ GROUP BY doc_id
    )
    SELECT source,
           CAST(COUNT(per_doc.doc_id) AS BIGINT) AS n_docs_matched,
           CAST(COALESCE(SUM(n_occ), 0) AS BIGINT) AS total_occurrences
    FROM d LEFT JOIN per_doc USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    "exact phrase search over a positional index — the anchor trick: a "
    "token matching phrase word j at position p votes for anchor p-j; "
    "an anchor holding all k slots is one occurrence (repeated-word "
    "safe). The token stream filters to the phrase's terms BEFORE any "
    "shuffle — operators/retrieval.py::phrase_search",
)
def q168(spark, sf_dir):
    from kubenetmon_spark.operators.retrieval import phrase_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_doc = phrase_search(d, _PHRASE)
    return (
        d.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.col("n_occurrences")).alias("n_docs_matched"),
            F.coalesce(F.sum("n_occurrences"), F.lit(0)).alias(
                "total_occurrences"
            ),
        )
        .orderBy("source")
    )


@_register(
    "q169_linear_quality_scorer",
    r"""
    WITH d AS (SELECT doc_id, source, trim(text) AS t FROM documents),
    toks AS (
      SELECT doc_id,
             regexp_split_to_array(t, '\s+')[CAST(i AS INTEGER)] AS token
      FROM d, UNNEST(generate_series(1,
             len(regexp_split_to_array(t, '\s+')))) u(i)
    ),
    scored AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             SUM((CAST('0x' || substring(md5(token), 1, 8) AS BIGINT)
                  % 4096 % 2001) - 1000) AS logit
      FROM toks WHERE token != '' GROUP BY doc_id
    )
    SELECT source,
           CAST(SUM(logit) AS BIGINT) AS s_logit,
           CAST(SUM(n_tokens) AS BIGINT) AS s_tokens,
           CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass
    FROM d JOIN scored USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    "fastText-shape hashed-feature linear quality scorer: "
    "md5(token)->bucket->weight, summed per doc in ONE per-row fold "
    "(no explode, no shuffle — fuses into the scan); weights are a "
    "deterministic function of the bucket so the logit is "
    "integer-exact, and swapping in trained weights is a broadcast "
    "map lookup with the same plan — "
    "operators/text.py::with_hashed_linear_score",
)
def q169(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_hashed_linear_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    s = with_hashed_linear_score(d)
    return (
        s.groupBy("source")
        .agg(
            F.sum("quality_logit").alias("s_logit"),
            F.sum("n_tokens").alias("s_tokens"),
            F.sum(
                F.when(F.col("quality_logit") > 0, 1).otherwise(0)
            ).alias("n_pass"),
        )
        .orderBy("source")
    )


@_register(
    "q170_corr_matrix",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x0,
             user_id AS x1,
             event_id % 1000 AS x2
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x0) AS s0, SUM(x1) AS s1, SUM(x2) AS s2,
             SUM(x0*x0) AS p00, SUM(x0*x1) AS p01, SUM(x0*x2) AS p02,
             SUM(x1*x1) AS p11, SUM(x1*x2) AS p12, SUM(x2*x2) AS p22
      FROM o GROUP BY event_type
    ),
    m AS (
      SELECT event_type, 0 AS i, 0 AS j,
             ROUND((n*p00 - s0*s0) / sqrt(CAST(n*p00 - s0*s0 AS DOUBLE)
                   * CAST(n*p00 - s0*s0 AS DOUBLE)), 6) AS corr FROM s
      UNION ALL SELECT event_type, 0, 1,
             ROUND((n*p01 - s0*s1) / sqrt(CAST(n*p00 - s0*s0 AS DOUBLE)
                   * CAST(n*p11 - s1*s1 AS DOUBLE)), 6) FROM s
      UNION ALL SELECT event_type, 0, 2,
             ROUND((n*p02 - s0*s2) / sqrt(CAST(n*p00 - s0*s0 AS DOUBLE)
                   * CAST(n*p22 - s2*s2 AS DOUBLE)), 6) FROM s
      UNION ALL SELECT event_type, 1, 1,
             ROUND((n*p11 - s1*s1) / sqrt(CAST(n*p11 - s1*s1 AS DOUBLE)
                   * CAST(n*p11 - s1*s1 AS DOUBLE)), 6) FROM s
      UNION ALL SELECT event_type, 1, 2,
             ROUND((n*p12 - s1*s2) / sqrt(CAST(n*p11 - s1*s1 AS DOUBLE)
                   * CAST(n*p22 - s2*s2 AS DOUBLE)), 6) FROM s
      UNION ALL SELECT event_type, 2, 2,
             ROUND((n*p22 - s2*s2) / sqrt(CAST(n*p22 - s2*s2 AS DOUBLE)
                   * CAST(n*p22 - s2*s2 AS DOUBLE)), 6) FROM s
    )
    SELECT event_type, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           corr
    FROM m ORDER BY event_type, i, j
    """,
    "ClickHouse corrMatrix: every pairwise Pearson correlation from "
    "ONE hash aggregation (k + k(k+1)/2 exact integer sums in a single "
    "pass — never k² scans); the q128 precedent handles the lone float "
    "sqrt/divide — operators/stats.py::corr_matrix",
)
def q170(spark, sf_dir):
    from kubenetmon_spark.operators.stats import corr_matrix

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "x0"
        ),
        F.col("user_id").alias("x1"),
        (F.col("event_id") % 1000).alias("x2"),
    )
    out = corr_matrix(ev, ["event_type"], ["x0", "x1", "x2"])
    return out.orderBy("event_type", "i", "j")


@_register(
    "q171_with_totals",
    """
    SELECT COALESCE(event_type, '__totals__') AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    GROUP BY GROUPING SETS ((event_type), ())
    ORDER BY event_type
    """,
    "GROUP BY ... WITH TOTALS as an explicit surface row (q32/q41/q61 "
    "cover the general grouping-set machinery): rollup over one key "
    "yields the per-group rows plus the totals row in ONE aggregation "
    "— ClickHouse's extra totals block is the null-key row relabeled",
)
def q171(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            ).alias("cents"),
            F.count_distinct("user_id").alias("users"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("__totals__")).alias(
                "event_type"
            ),
            "n",
            "cents",
            "users",
        )
        .orderBy("event_type")
    )


@_register(
    "q172_limit_by_offset",
    """
    WITH r AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        DESC, event_id
             ) AS rk
      FROM events
    )
    SELECT event_type, CAST(event_id AS BIGINT) AS event_id, cents
    FROM r WHERE rk > 2 AND rk <= 5
    ORDER BY event_type, cents DESC, event_id
    """,
    "ClickHouse LIMIT k OFFSET o BY group: rows 3..5 of each group's "
    "value-ranked order — cap_per_group's offset parameter "
    "(operators/curation.py), one window pass",
)
def q172(spark, sf_dir):
    from kubenetmon_spark.operators.curation import cap_per_group

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    ).withColumn("_neg", -F.col("cents"))
    out = cap_per_group(
        ev, ["event_type"], 3, "event_id", order_col="_neg", offset=2
    )
    return out.select("event_type", "event_id", "cents").orderBy(
        "event_type", F.desc("cents"), "event_id"
    )


@_register(
    "q173_html_extract",
    r"""
    WITH h AS (
      SELECT doc_id, source, text,
             '<html><head><style>p{color:red}</style>'
             || '<script>var x = "' || source || '";</script></head>'
             || '<body><p>' || replace(text, ' ', '</p><p>')
             || '</p><!-- trailing comment -->&amp;done</body></html>'
               AS html
      FROM documents
    ),
    x AS (
      SELECT doc_id, source, text,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html,
                         '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&amp;', '&'),
               '\s+', ' ', 'g')) AS extracted
      FROM h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN extracted =
                trim(regexp_replace(text, '\s+', ' ', 'g')) || ' &done'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
           CAST(SUM(length(extracted)) AS BIGINT) AS s_len
    FROM x GROUP BY source ORDER BY source
    """,
    "extractTextFromHTML — script/style subtree removal, comment and "
    "tag stripping, core entity decode (&amp; decoded LAST so "
    "&amp;lt; survives as &lt;), whitespace collapse — one "
    "RE2-compatible regexp chain, codegen in Spark and replayed "
    "verbatim by the oracle; the round-trip predicate proves "
    "extraction recovers the original text from the synthetic markup — "
    "operators/text.py::with_html_stripped",
)
def q173(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_html_stripped

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    h = d.withColumn(
        "html",
        F.concat(
            F.lit('<html><head><style>p{color:red}</style>'),
            F.lit('<script>var x = "'),
            F.col("source"),
            F.lit('";</script></head><body><p>'),
            F.replace(F.col("text"), F.lit(" "), F.lit("</p><p>")),
            F.lit("</p><!-- trailing comment -->&amp;done</body></html>"),
        ),
    )
    x = with_html_stripped(h, "html", "extracted")
    expect = F.concat(
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
        F.lit(" &done"),
    )
    return (
        x.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("extracted") == expect, 1).otherwise(0)
            ).alias("n_roundtrip"),
            F.sum(F.length("extracted")).alias("s_len"),
        )
        .orderBy("source")
    )


@_register(
    "q174_sparkbar",
    """
    WITH e AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
    ),
    mm AS (SELECT event_type, MIN(x) AS minx, MAX(x) AS maxx
           FROM e GROUP BY event_type),
    s AS (
      SELECT e.event_type,
             LEAST(11, ((x - minx) * 12) // (maxx - minx + 1)) AS b,
             SUM(y) AS yb
      FROM e JOIN mm ON e.event_type = mm.event_type
      GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, MAX(yb) AS maxy FROM s GROUP BY event_type),
    grid AS (
      SELECT t.event_type, CAST(g.b AS BIGINT) AS b
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT UNNEST(generate_series(0, 11)) AS b) g
    )
    SELECT grid.event_type AS event_type,
           string_agg(
             CASE WHEN yb IS NULL OR yb <= 0 THEN ' '
                  ELSE substring('▁▂▃▄▅▆▇█',
                       CAST(1 + (yb * 7) // maxy AS INTEGER), 1) END,
             '' ORDER BY grid.b) AS sparkbar
    FROM grid
    LEFT JOIN s ON grid.event_type = s.event_type AND grid.b = s.b
    JOIN mx ON grid.event_type = mx.event_type
    GROUP BY grid.event_type ORDER BY grid.event_type
    """,
    "ClickHouse sparkbar: per group, a 12-char unicode bar chart of "
    "hourly value totals — integer-exact rendering (bucket and level "
    "via true integer division, never a float quotient that could "
    "round across a boundary) — operators/agg.py::sparkbar",
)
def q174(spark, sf_dir):
    from kubenetmon_spark.operators.agg import sparkbar

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp(F.date_trunc("second", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("x"),
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "y"
        ),
    )
    return sparkbar(ev, ["event_type"], "x", "y", width=12).orderBy(
        "event_type"
    )


@_register(
    "q175_readable_timedelta",
    """
    WITH e AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    d AS (
      SELECT event_type, MAX(s) - MIN(s) AS span,
             (MAX(s) - MIN(s)) % 90061 AS small
      FROM e GROUP BY event_type
    )
    SELECT event_type,
           CASE WHEN span = 0 THEN '0 seconds' ELSE concat_ws(', ',
             CASE WHEN span // 86400 = 1 THEN '1 day'
                  WHEN span // 86400 > 1
                    THEN CAST(span // 86400 AS VARCHAR) || ' days' END,
             CASE WHEN span % 86400 // 3600 = 1 THEN '1 hour'
                  WHEN span % 86400 // 3600 > 1
                    THEN CAST(span % 86400 // 3600 AS VARCHAR) || ' hours'
                  END,
             CASE WHEN span % 3600 // 60 = 1 THEN '1 minute'
                  WHEN span % 3600 // 60 > 1
                    THEN CAST(span % 3600 // 60 AS VARCHAR) || ' minutes'
                  END,
             CASE WHEN span % 60 = 1 THEN '1 second'
                  WHEN span % 60 > 1
                    THEN CAST(span % 60 AS VARCHAR) || ' seconds' END)
           END AS span_str,
           CASE WHEN small = 0 THEN '0 seconds' ELSE concat_ws(', ',
             CASE WHEN small // 86400 = 1 THEN '1 day'
                  WHEN small // 86400 > 1
                    THEN CAST(small // 86400 AS VARCHAR) || ' days' END,
             CASE WHEN small % 86400 // 3600 = 1 THEN '1 hour'
                  WHEN small % 86400 // 3600 > 1
                    THEN CAST(small % 86400 // 3600 AS VARCHAR) || ' hours'
                  END,
             CASE WHEN small % 3600 // 60 = 1 THEN '1 minute'
                  WHEN small % 3600 // 60 > 1
                    THEN CAST(small % 3600 // 60 AS VARCHAR) || ' minutes'
                  END,
             CASE WHEN small % 60 = 1 THEN '1 second'
                  WHEN small % 60 > 1
                    THEN CAST(small % 60 AS VARCHAR) || ' seconds' END)
           END AS small_str
    FROM d ORDER BY event_type
    """,
    "formatReadableTimeDelta: largest-unit-first rendering with exact "
    "singular/plural and zero-unit skipping, pure integer splits — "
    "sql.py SQL UDF; the % 90061 probe (1 day + 1 hour + 1 minute + "
    "1 second) exercises the singular branches",
)
def q175(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT event_type,
                 unix_timestamp(date_trunc('second', ts)) AS s
          FROM events
        ),
        d AS (
          SELECT event_type, MAX(s) - MIN(s) AS span,
                 (MAX(s) - MIN(s)) % 90061 AS small
          FROM e GROUP BY event_type
        )
        SELECT event_type,
               formatReadableTimeDelta(span) AS span_str,
               formatReadableTimeDelta(small) AS small_str
        FROM d ORDER BY event_type
        """
    )


@_register(
    "q176_mean_z_test",
    """
    WITH e AS (
      SELECT user_id % 10 AS g,
             CASE WHEN event_type = 'click' THEN 'x'
                  WHEN event_type = 'view' THEN 'y' END AS side,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'view')
    ),
    a AS (
      SELECT g,
             SUM(CASE WHEN side = 'x' THEN v END) AS sx,
             COUNT(CASE WHEN side = 'x' THEN 1 END) AS nx,
             SUM(CASE WHEN side = 'y' THEN v END) AS sy,
             COUNT(CASE WHEN side = 'y' THEN 1 END) AS ny
      FROM e GROUP BY g
    )
    SELECT CAST(g AS BIGINT) AS g, CAST(nx AS BIGINT) AS nx,
           CAST(ny AS BIGINT) AS ny,
           ROUND((CAST(sx AS DOUBLE) / nx - CAST(sy AS DOUBLE) / ny)
                 / sqrt(2000000.0 / nx + 1500000.0 / ny), 6) AS z
    FROM a ORDER BY g
    """,
    "ClickHouse meanZTest: two-sample z with KNOWN population "
    "variances — means from exact integer sums, one sqrt over a float "
    "sum of two exact ratios, identical expression shape in the "
    "oracle — operators/stats.py::mean_z_test",
)
def q176(spark, sf_dir):
    from kubenetmon_spark.operators.stats import mean_z_test

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        (F.col("user_id") % 10).alias("g"),
        F.when(F.col("event_type") == "click", "x")
        .otherwise("y")
        .alias("side"),
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "v"
        ),
    )
    return mean_z_test(
        ev, ["g"], "v", "side", 2_000_000, 1_500_000
    ).orderBy("g")


@_register(
    "q177_information_value",
    """
    WITH e AS (
      SELECT event_type AS cat, user_id % 2 AS tag FROM events
    ),
    c AS (
      SELECT cat,
             COUNT(CASE WHEN tag = 0 THEN 1 END) AS n0,
             COUNT(CASE WHEN tag = 1 THEN 1 END) AS n1
      FROM e GROUP BY cat
    ),
    t AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM c)
    SELECT cat, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND((CAST(n0 AS DOUBLE) / t0 - CAST(n1 AS DOUBLE) / t1)
                 * ln((CAST(n0 AS DOUBLE) / t0)
                      / (CAST(n1 AS DOUBLE) / t1)), 6) AS iv
    FROM c, t ORDER BY cat
    """,
    "ClickHouse categoricalInformationValue: per-category weight of "
    "evidence x probability gap over a binary tag — all inputs exact "
    "integer counts; the single ln follows the q129 entropy precedent "
    "(rounded at 1e-6)",
)
def q177(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("cat"),
        (F.col("user_id") % 2).alias("tag"),
    )
    c = ev.groupBy("cat").agg(
        F.count(F.when(F.col("tag") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("tag") == 1, 1)).alias("n1"),
    )
    t = c.agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    p0 = F.col("n0").cast("double") / F.col("t0")
    p1 = F.col("n1").cast("double") / F.col("t1")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "cat",
            "n0",
            "n1",
            F.round((p0 - p1) * F.log(p0 / p1), 6).alias("iv"),
        )
        .orderBy("cat")
    )


@_register(
    "q178_array_manipulation",
    """
    WITH o AS (
      SELECT user_id,
             list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ORDER BY ts, event_id) AS arr
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(arr) AS BIGINT) AS n,
           md5(array_to_string(
             list_concat(arr[4:], arr[1:3]), ',')) AS rot_digest,
           CAST(greatest(len(arr) - 2, 0) AS BIGINT) AS n_shingles,
           md5(array_to_string(list_transform(
               generate_series(1, greatest(len(arr) - 2, 0)),
               i -> array_to_string(arr[i:i+2], '-')), ',')) AS shingle_digest,
           md5(array_to_string(list_sort(arr)[1:3], ',')) AS top3_digest
    FROM o ORDER BY user_id
    """,
    "ClickHouse array-manipulation family — arrayRotateLeft (slice + "
    "concat), arrayShingles (sliding sub-arrays via sequence + slice), "
    "arrayPartialSort's observable prefix (sort + slice) — pure "
    "higher-order expressions over per-user ordered arrays, digested; "
    "the DuckDB oracle replays with list_slice/list_transform",
)
def q178(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "v"
        ),
    )
    o = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "v"))),
            lambda s: s["v"],
        ).alias("arr")
    )
    arr = F.col("arr")
    n = F.size(arr)
    rot = F.concat(F.slice(arr, 4, F.greatest(n - 3, F.lit(0))), F.slice(arr, 1, 3))
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
    shingles = F.expr(
        "CASE WHEN size(arr) >= 3 THEN transform(sequence(1, size(arr) - 2),"
        " i -> array_join(slice(arr, i, 3), '-'))"
        " ELSE array() END"
    )
    top3 = F.slice(F.array_sort(arr), 1, 3)
    to_csv = lambda a: F.concat_ws(  # noqa: E731
        ",", F.transform(a, lambda x: x.cast("string"))
    )
    return o.select(
        "user_id",
        n.cast("bigint").alias("n"),
        F.md5(to_csv(rot)).alias("rot_digest"),
        F.greatest(n - 2, F.lit(0)).cast("bigint").alias("n_shingles"),
        F.md5(F.concat_ws(",", shingles)).alias("shingle_digest"),
        F.md5(to_csv(top3)).alias("top3_digest"),
    ).orderBy("user_id")


@_register(
    "q179_versioned_collapsing",
    """
    SELECT user_id,
           CAST(MAX(event_id) AS BIGINT) AS version,
           CAST(arg_max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
                        event_id) AS BIGINT) AS cents
    FROM events WHERE event_type != 'error'
    GROUP BY user_id ORDER BY user_id
    """,
    "VersionedCollapsingMergeTree FINAL: a cancel row annihilates only "
    "the SAME version (safe under out-of-order multi-writer streams, "
    "unlike plain Collapsing) — per-(key, version) sign netting then a "
    "latest-survivor pick; the synthetic stream inserts every event at "
    "version=event_id and cancels exactly the 'error' versions, so the "
    "oracle reduces to arg_max over the non-cancelled set — "
    "operators/mergetree.py::versioned_collapsing_latest",
)
def q179(spark, sf_dir):
    from kubenetmon_spark.operators.mergetree import (
        versioned_collapsing_latest,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("version"),
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        "event_type",
    )
    inserts = ev.select(
        "user_id", "version", "cents", F.lit(1).alias("sign")
    )
    cancels = ev.filter(F.col("event_type") == "error").select(
        "user_id", "version", "cents", F.lit(-1).alias("sign")
    )
    stream = inserts.unionByName(cancels)
    out = versioned_collapsing_latest(
        stream, ["user_id"], "version", "sign", ["cents"]
    )
    return out.select("user_id", "version", "cents").orderBy("user_id")


@_register(
    "q180_exact_auc",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 500
               AS score,
             CASE WHEN (user_id + event_id) % 3 = 0 THEN 1 ELSE 0 END
               AS label
      FROM events
    ),
    r AS (
      SELECT event_type, score, label,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY score)
               + COUNT(*) OVER (PARTITION BY event_type, score) - 1 AS dmr
      FROM o
    ),
    a AS (
      SELECT event_type,
             COUNT(CASE WHEN label = 1 THEN 1 END) AS n_pos,
             COUNT(CASE WHEN label = 0 THEN 1 END) AS n_neg,
             SUM(CASE WHEN label = 1 THEN dmr END) AS dblr1
      FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(CAST(dblr1 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2 * n_pos * n_neg), 6) AS auc
    FROM a ORDER BY event_type
    """,
    "exact AUC (ClickHouse arrayAUC as a grouped aggregate): the "
    "Mann-Whitney U normalization over integer doubled midranks — ties "
    "earn the standard half credit exactly, everything before the "
    "final division is int64 — operators/stats.py::exact_auc; one "
    "rank window + one hash agg per group",
)
def q180(spark, sf_dir):
    from kubenetmon_spark.operators.stats import exact_auc

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            % 500
        ).alias("score"),
        F.when((F.col("user_id") + F.col("event_id")) % 3 == 0, 1)
        .otherwise(0)
        .alias("label"),
    )
    return exact_auc(ev, ["event_type"], "score", "label").orderBy(
        "event_type"
    )


@_register(
    "q181_group_array_intersect",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             list_sort(list_distinct(list(event_type))) AS types
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    x AS (
      SELECT user_id, t.t AS typ, COUNT(*) AS n_days_with,
             (SELECT COUNT(*) FROM daily d2
              WHERE d2.user_id = daily.user_id) AS n_days
      FROM daily, UNNEST(types) t(t)
      GROUP BY user_id, t.t
    )
    SELECT user_id,
           COALESCE(string_agg(CASE WHEN n_days_with = n_days THEN typ END,
                    ',' ORDER BY typ), '') AS everyday_types
    FROM x GROUP BY user_id ORDER BY user_id
    """,
    "ClickHouse groupArrayIntersect: the intersection of per-row "
    "arrays across a group (event types seen EVERY active day) — "
    "explode + presence counting (an element survives iff its day "
    "count equals the group's day count), never an iterative "
    "array_intersect fold over collected rows",
)
def q181(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    )
    daily = ev.groupBy("user_id", "d").agg(
        F.collect_set("event_type").alias("types")
    )
    n_days = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    x = (
        daily.select("user_id", F.explode("types").alias("typ"))
        .groupBy("user_id", "typ")
        .agg(F.count(F.lit(1)).alias("n_days_with"))
        .join(n_days, "user_id")
    )
    return (
        x.groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("n_days_with") == F.col("n_days"),
                            F.col("typ"),
                        )
                    )
                ),
            ).alias("everyday_types")
        )
        .orderBy("user_id")
    )


@_register(
    "q182_bigram_perplexity",
    r"""
    WITH d AS (SELECT doc_id, source, lower(trim(text)) AS t
               FROM documents),
    toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             regexp_split_to_array(t, '\s+')[CAST(i AS INTEGER)] AS tok
      FROM d, UNNEST(generate_series(1,
             len(regexp_split_to_array(t, '\s+')))) u(i)
    ),
    uni AS (SELECT tok, COUNT(*) AS cu FROM toks GROUP BY tok),
    vs AS (SELECT COUNT(*) AS v FROM uni),
    pairs AS (
      SELECT doc_id, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM toks
    ),
    bi AS (SELECT prev, tok, COUNT(*) AS cb FROM pairs
           WHERE prev IS NOT NULL GROUP BY prev, tok),
    scored AS (
      SELECT p.doc_id,
             CAST(round(log2((COALESCE(b.cb, 0) + 1.0)
                  / (COALESCE(u.cu, 0) + v)) * 1000000) AS BIGINT)
               AS micro
      FROM pairs p
      LEFT JOIN bi b ON p.prev = b.prev AND p.tok = b.tok
      LEFT JOIN uni u ON p.prev = u.tok
      CROSS JOIN vs
      WHERE p.prev IS NOT NULL
    ),
    per_doc AS (
      SELECT doc_id, SUM(micro) AS lp, COUNT(*) AS np
      FROM scored GROUP BY doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(lp) AS BIGINT) AS s_lp_micro,
           CAST(SUM(np) AS BIGINT) AS s_pairs,
           CAST(SUM(CASE WHEN lp > np * -4910000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low_ppl
    FROM d JOIN per_doc USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    "CCNet-style bigram-LM perplexity filter, deterministic end to "
    "end: corpus-trained add-one-smoothed bigram scores with each "
    "per-pair log2 term rounded to integer micro-bits BEFORE summation "
    "— float addition is not associative, so a shuffle must never "
    "change a score; the n_low_ppl threshold is the filter's keep "
    "predicate — operators/lm.py",
)
def q182(spark, sf_dir):
    from kubenetmon_spark.operators.lm import (
        train_bigram_counts,
        with_bigram_logprob,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    uni, bi = train_bigram_counts(d)
    v = uni.count()
    scored = with_bigram_logprob(d, uni, bi, v)
    return (
        scored.filter(F.col("lp_micro").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lp_micro").alias("s_lp_micro"),
            F.sum("n_pairs").alias("s_pairs"),
            F.sum(
                F.when(
                    F.col("lp_micro") > F.col("n_pairs") * -4_910_000, 1
                ).otherwise(0)
            ).alias("n_low_ppl"),
        )
        .orderBy("source")
    )


@_register(
    "q183_tukey_outliers",
    """
    WITH e AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    c AS (SELECT event_type, x, COUNT(*) AS w FROM e GROUP BY 1, 2),
    r AS (
      SELECT event_type, x,
             SUM(w) OVER (PARTITION BY event_type ORDER BY x) AS cumw,
             SUM(w) OVER (PARTITION BY event_type) AS totw
      FROM c
    ),
    q AS (
      SELECT event_type,
             MIN(CASE WHEN cumw * 4 >= totw THEN x END) AS q1,
             MIN(CASE WHEN cumw * 4 >= totw * 3 THEN x END) AS q3
      FROM r GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(MIN(q1) AS BIGINT) AS q1, CAST(MIN(q3) AS BIGINT) AS q3,
           CAST(SUM(CASE WHEN 2 * x < 2 * q1 - 3 * (q3 - q1)
                         OR 2 * x > 2 * q3 + 3 * (q3 - q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    "Tukey-fence outlier detection (ClickHouse "
    "seriesOutliersDetectTukey): exact-low quartiles via the integer "
    "reach test (q104's rule) and the 1.5xIQR fences cross-multiplied "
    "to pure integer comparisons (2x < 2q1 - 3(q3-q1)) — no float "
    "anywhere; quartiles ride the weighted-quantile machinery over "
    "value histograms, the fences broadcast back",
)
def q183(spark, sf_dir):
    from kubenetmon_spark.operators.agg import weighted_quantile_exact

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "x"
        ),
    )
    counts = ev.groupBy("event_type", "x").agg(
        F.count(F.lit(1)).alias("w")
    )
    q = weighted_quantile_exact(
        counts, ["event_type"], "x", "w", [25, 75]
    ).select("event_type", F.col("p25").alias("q1"), F.col("p75").alias("q3"))
    iqr3 = 3 * (F.col("q3") - F.col("q1"))
    outlier = (2 * F.col("x") < 2 * F.col("q1") - iqr3) | (
        2 * F.col("x") > 2 * F.col("q3") + iqr3
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum(outlier.cast("int")).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@_register(
    "q184_vector_norms",
    """
    WITH p AS (
      SELECT list_transform(range(0, 64), i -> (i * 37) % 100 - 50) AS pv
    ),
    e AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS ev
      FROM embeddings
    ),
    d AS (
      SELECT label,
             list_sum(list_transform(range(1, 65),
               i -> abs(ev[CAST(i AS INTEGER)] - pv[CAST(i AS INTEGER)])))
               AS l1,
             list_max(list_transform(range(1, 65),
               i -> abs(ev[CAST(i AS INTEGER)] - pv[CAST(i AS INTEGER)])))
               AS linf
      FROM e, p
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l1) AS BIGINT) AS s_l1,
           CAST(MAX(linf) AS BIGINT) AS max_linf,
           CAST(MIN(linf) AS BIGINT) AS min_linf
    FROM d GROUP BY label ORDER BY label
    """,
    "L1Distance / LinfDistance completing the q161 vector-distance "
    "family — exact integer folds (sum/max of absolute differences) "
    "over integer-scaled vectors, JVM-side zip_with — "
    "operators/similarity.py::l1_distance_int/linf_distance_int",
)
def q184(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import (
        int_scaled_vec,
        l1_distance_int,
        linf_distance_int,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probe = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: ((i * 37) % 100 - 50).cast("bigint"),
    )
    e = emb.select(
        "label",
        int_scaled_vec(F.col("embedding")).alias("ev"),
        probe.alias("pv"),
    )
    d = e.select(
        "label",
        l1_distance_int(F.col("ev"), F.col("pv")).alias("l1"),
        linf_distance_int(F.col("ev"), F.col("pv")).alias("linf"),
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l1").alias("s_l1"),
            F.max("linf").alias("max_linf"),
            F.min("linf").alias("min_linf"),
        )
        .orderBy("label")
    )


@_register(
    "q185_zipf_profile",
    r"""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\s+')
               [CAST(i AS INTEGER)] AS tok
      FROM documents,
           UNNEST(generate_series(1,
             len(regexp_split_to_array(lower(trim(text)), '\s+')))) u(i)
    ),
    c AS (SELECT tok, COUNT(*) AS cnt FROM toks
          WHERE tok != '' GROUP BY tok),
    ranked AS (
      SELECT tok, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM c
    ),
    top AS (
      SELECT CAST(round(ln(rnk) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE rnk <= 200
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM top
    ),
    head AS (
      SELECT string_agg(tok, ',' ORDER BY rnk) AS top5
      FROM ranked WHERE rnk <= 5
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS vocab,
           CAST(n AS BIGINT) AS n_points,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           top5
    FROM s, head
    """,
    "corpus vocabulary Zipf profile: word frequencies -> rank -> exact "
    "OLS of ln(freq) on ln(rank) with both logs micro-rounded to "
    "integers BEFORE the sums (the q182 trick — the regression inputs "
    "are exact int64, the slope is one float division); top-5 word "
    "list rides along — operators/stats.py::simple_linear_regression",
)
def q185(spark, sf_dir):
    from pyspark.sql.window import Window

    from kubenetmon_spark.operators.retrieval import tokenize
    from kubenetmon_spark.operators.stats import simple_linear_regression

    d = _t(spark, sf_dir, "documents")
    c = tokenize(d).groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = c.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.col("token"))
        ),
    )
    top = ranked.filter(F.col("rnk") <= 200).select(
        F.lit("corpus").alias("g"),
        F.round(F.log(F.col("rnk")) * 1_000_000).cast("bigint").alias("x"),
        F.round(F.log(F.col("cnt")) * 1_000_000).cast("bigint").alias("y"),
    )
    ols = simple_linear_regression(top, ["g"], "x", "y").select(
        F.col("n").alias("n_points"), F.col("slope").alias("zipf_slope")
    )
    head = ranked.filter(F.col("rnk") <= 5).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rnk", "token"))
                ),
                lambda s: s["token"],
            ),
        ).alias("top5")
    )
    vocab = c.agg(F.count(F.lit(1)).alias("vocab"))
    return vocab.crossJoin(ols).crossJoin(head).select(
        "vocab", "n_points", "zipf_slope", "top5"
    )


def _morton2_sql(x: str, y: str, bits: int = 10) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(((({x}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({y}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


@_register(
    "q186_morton_encode",
    f"""
    WITH e AS (
      SELECT user_id % 1024 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 1024 AS y,
             event_type
      FROM events
    ),
    m AS (SELECT event_type, x, y, {_morton2_sql("x", "y")} AS z FROM e)
    SELECT event_type,
           CAST(SUM(z) AS BIGINT) AS s_z,
           CAST(MIN(z) AS BIGINT) AS min_z,
           CAST(MAX(z) AS BIGINT) AS max_z,
           CAST(SUM(CASE WHEN z % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_q3
    FROM m GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse mortonEncode — the raw integer bit interleave behind "
    "the Z-order clustering writer (operators/zorder.py::morton_encode2"
    "/morton_decode2, round-trip unit-tested); every term fully "
    "parenthesized for the Postgres-tradition '+' precedence, same as "
    "geohash",
)
def q186(spark, sf_dir):
    from kubenetmon_spark.operators.zorder import morton_encode2

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 1024).alias("x"),
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            % 1024
        ).alias("y"),
    )
    m = ev.withColumn(
        "z", morton_encode2(F.col("x"), F.col("y"), bits=10)
    )
    return (
        m.groupBy("event_type")
        .agg(
            F.sum("z").alias("s_z"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
            F.sum(F.when(F.col("z") % 4 == 3, 1).otherwise(0)).alias(
                "n_q3"
            ),
        )
        .orderBy("event_type")
    )


@_register(
    "q187_curation_pipeline_v2",
    r"""
    WITH d AS (
      SELECT doc_id, source, trim(text) AS t,
             regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, t, len(words) AS n,
             length(regexp_replace(t, '\s+', '', 'g')) AS total_len,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
               AS n_alpha,
             (CASE WHEN regexp_matches(t, '(^|\s)the(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)a(\s|$)') THEN 1 ELSE 0 END)
               AS n_stop
      FROM d
    ),
    passed AS (
      SELECT doc_id, source, t FROM g
      WHERE n >= 20 AND n <= 100000
        AND total_len >= 2 * n AND total_len <= 10 * n
        AND n_alpha * 100 >= n * 80 AND n_stop >= 2
    ),
    toks AS (
      SELECT doc_id,
             regexp_split_to_array(t, '\s+')[CAST(i AS INTEGER)] AS tok
      FROM passed, UNNEST(generate_series(1,
             len(regexp_split_to_array(t, '\s+')))) u(i)
    ),
    scored AS (
      SELECT doc_id,
             SUM((CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT)
                  % 4096 % 2001) - 1000) AS logit
      FROM toks WHERE tok != '' GROUP BY doc_id
    ),
    pos AS (
      SELECT p.doc_id, p.source, s.logit,
             ROW_NUMBER() OVER (PARTITION BY p.source
                                ORDER BY s.logit DESC, p.doc_id) AS rk
      FROM passed p JOIN scored s USING (doc_id)
      WHERE s.logit > 0
    )
    SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(logit AS BIGINT) AS logit
    FROM pos WHERE rk <= 5
    ORDER BY source, logit DESC, doc_id
    """,
    "the round's curation operators composed in ONE plan — Gopher "
    "rule gate (codegen flags fused into the scan) -> hashed linear "
    "quality scorer (per-row fold) -> positive-logit filter -> "
    "best-first per-source quota (one window) — the q118 composition "
    "precedent with this round's stages; the oracle replays the full "
    "CTE chain",
)
def q187(spark, sf_dir):
    from kubenetmon_spark.operators.curation import cap_per_group
    from kubenetmon_spark.operators.text import (
        with_gopher_rules,
        with_hashed_linear_score,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # corpus-adapted parameters (the operator's whole point): this
    # vocabulary contains only 'the'/'a' from any stopword list and its
    # words are short — the rule SHAPES stay Gopher's
    g = with_gopher_rules(
        d,
        min_words=20,
        min_mean_word_len=2,
        stopwords=["the", "a"],
    ).filter(
        F.col("g_word_count_ok")
        & F.col("g_mean_len_ok")
        & F.col("g_alpha_ok")
        & F.col("g_stopword_ok")
    )
    s = with_hashed_linear_score(g).filter(F.col("quality_logit") > 0)
    s = s.withColumn("_neg", -F.col("quality_logit"))
    top = cap_per_group(s, ["source"], 5, "doc_id", order_col="_neg")
    return top.select(
        "source",
        "doc_id",
        F.col("quality_logit").alias("logit"),
    ).orderBy("source", F.desc("logit"), "doc_id")


@_register(
    "q188_ngram_search",
    f"""
    WITH d AS (SELECT doc_id, source, text FROM documents),
    g AS (
      SELECT doc_id, substring(text, CAST(i AS INTEGER), 3) AS gram
      FROM d, UNNEST(generate_series(1, greatest(length(text) - 2, 0))) u(i)
    ),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
    p AS (
      SELECT substring('{_NGRAM_PROBE}', CAST(i AS INTEGER), 3) AS gram,
             COUNT(*) AS pc
      FROM UNNEST(generate_series(1, {len(_NGRAM_PROBE) - 2})) u(i)
      GROUP BY 1
    ),
    com AS (
      SELECT doc_id, SUM(LEAST(c, pc)) AS common
      FROM gc JOIN p USING (gram) GROUP BY 1
    ),
    per AS (
      SELECT d.doc_id, d.source,
             (COALESCE(com.common, 0) * 10000)
               // {len(_NGRAM_PROBE) - 2} AS bp
      FROM d LEFT JOIN com USING (doc_id)
    )
    SELECT source,
           CAST(SUM(bp) AS BIGINT) AS s_bp,
           CAST(SUM(CASE WHEN bp = 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full,
           CAST(MAX(bp) AS BIGINT) AS max_bp
    FROM per GROUP BY source ORDER BY source
    """,
    "ClickHouse ngramSearch — the asymmetric containment sibling of "
    "ngramDistance (q152): the fraction of the PROBE's gram multiset a "
    "document covers, in basis points; n_full counts documents "
    "containing the whole probe — "
    "operators/text.py::ngram_search_to_probe",
)
def q188(spark, sf_dir):
    from kubenetmon_spark.operators.text import ngram_search_to_probe

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    s = ngram_search_to_probe(d, "doc_id", "text", _NGRAM_PROBE, n=3)
    return (
        s.groupBy("source")
        .agg(
            F.sum("ngram_search_bp").alias("s_bp"),
            F.sum(
                F.when(F.col("ngram_search_bp") == 10000, 1).otherwise(0)
            ).alias("n_full"),
            F.max("ngram_search_bp").alias("max_bp"),
        )
        .orderBy("source")
    )


@_register(
    "q189_bit_aggregates",
    """
    WITH e AS (
      SELECT event_type, (event_id * 2654435761) % 1048576 AS x
      FROM events
    )
    SELECT event_type,
           CAST(BIT_AND(x) AS BIGINT) AS b_and,
           CAST(BIT_OR(x) AS BIGINT) AS b_or,
           CAST(BIT_XOR(x) AS BIGINT) AS b_xor,
           CAST(SUM(BIT_COUNT(x)) AS BIGINT) AS s_pop
    FROM e GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse groupBitAnd/groupBitOr/groupBitXor (+ a popcount sum) — "
    "native Spark bit_and/bit_or/bit_xor aggregates: one hash-agg "
    "shuffle, fully associative/commutative so partial (map-side) "
    "aggregation applies; x is a Knuth-multiplicative spread of "
    "event_id, identical integer math in both engines",
)
def q189(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("event_id") * F.lit(2654435761)) % 1048576).alias("x"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("bit_and(x)").alias("b_and"),
            F.expr("bit_or(x)").alias("b_or"),
            F.expr("bit_xor(x)").alias("b_xor"),
            F.sum(F.bit_count("x")).cast("long").alias("s_pop"),
        )
        .orderBy("event_type")
    )


@_register(
    "q190_minmax_map",
    """
    WITH e AS (
      SELECT user_id % 10 AS grp, event_type AS k,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    pk AS (SELECT grp, k, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY grp, k)
    SELECT grp,
           '{' || string_agg('"' || k || '":' || mn, ',' ORDER BY k) || '}'
             AS min_map_json,
           '{' || string_agg('"' || k || '":' || mx, ',' ORDER BY k) || '}'
             AS max_map_json
    FROM pk GROUP BY grp ORDER BY grp
    """,
    "ClickHouse minMap/maxMap — operators/agg.py::map_aggregate_many "
    "(q98 covered only sumMap): BOTH maps from one explode + two-level "
    "hash agg — 2 exchanges total, no join, regardless of how many "
    "combinators are requested",
)
def q190(spark, sf_dir):
    from kubenetmon_spark.operators.agg import map_aggregate_many

    ev = _t(spark, sf_dir, "events")
    mapped = ev.select(
        (F.col("user_id") % 10).alias("grp"),
        F.create_map(
            F.col("event_type"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("m"),
    )

    def as_json(map_col):
        ents = F.map_entries(F.col(map_col))
        return F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    ents,
                    lambda e: F.concat(
                        F.lit('"'), e["key"], F.lit('":'),
                        e["value"].cast("string"),
                    ),
                ),
                ",",
            ),
            F.lit("}"),
        )

    both = map_aggregate_many(mapped, "m", ["grp"], ["min", "max"])
    return both.select(
        "grp",
        as_json("min_map").alias("min_map_json"),
        as_json("max_map").alias("max_map_json"),
    ).orderBy("grp")


@_register(
    "q191_multi_search",
    """
    WITH d AS (
      SELECT doc_id, source, text,
             list_transform(['window stream', 'merge batch', 'zebra'],
                            n -> strpos(text, n)) AS pos
      FROM documents
    ),
    m AS (
      SELECT source,
             CASE WHEN len(list_filter(pos, p -> p > 0)) > 0
                  THEN 1 ELSE 0 END AS any_hit,
             coalesce(list_position(pos,
                 list_min(list_filter(pos, p -> p > 0))), 0) AS first_idx,
             CASE WHEN length(text) = 0 THEN 0 ELSE
               (length(text) - length(replace(text, 'table', '')))
                 // length('table') END AS n_table,
             CASE WHEN contains(' ' || regexp_replace(text,
                    '[^A-Za-z0-9_]', ' ', 'g') || ' ', ' value ')
                  THEN 1 ELSE 0 END AS tok_hit,
             strpos(text, 'spark') AS pos_spark
      FROM d
    )
    SELECT source,
           CAST(SUM(any_hit) AS BIGINT) AS n_any,
           CAST(SUM(first_idx) AS BIGINT) AS s_first_idx,
           CAST(SUM(n_table) AS BIGINT) AS s_count_sub,
           CAST(SUM(tok_hit) AS BIGINT) AS n_token,
           CAST(SUM(pos_spark) AS BIGINT) AS s_pos
    FROM m GROUP BY source ORDER BY source
    """,
    "ClickHouse string-search family — position, countSubstrings "
    "(non-overlapping), hasToken (separator-bounded), multiSearchAny, "
    "multiSearchFirstIndex (leftmost-occurrence needle index) as "
    "inlined SQL UDFs (sql.py); the DuckDB oracle re-derives each with "
    "list_transform/strpos — no UDF boundary on either engine",
)
def q191(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH m AS (
          SELECT source,
                 CASE WHEN multiSearchAny(text,
                      array('window stream', 'merge batch', 'zebra'))
                      THEN 1 ELSE 0 END AS any_hit,
                 multiSearchFirstIndex(text,
                      array('window stream', 'merge batch', 'zebra'))
                   AS first_idx,
                 countSubstrings(text, 'table') AS n_table,
                 CASE WHEN hasToken(text, 'value') THEN 1 ELSE 0 END
                   AS tok_hit,
                 positionUTF8(text, 'spark') AS pos_spark
          FROM documents
        )
        SELECT source,
               CAST(SUM(any_hit) AS BIGINT) AS n_any,
               CAST(SUM(first_idx) AS BIGINT) AS s_first_idx,
               CAST(SUM(n_table) AS BIGINT) AS s_count_sub,
               CAST(SUM(tok_hit) AS BIGINT) AS n_token,
               CAST(SUM(pos_spark) AS BIGINT) AS s_pos
        FROM m GROUP BY source ORDER BY source
        """
    )


@_register(
    "q192_c4_line_filter",
    """
    WITH d AS (
      SELECT doc_id, source, text, string_split(text, ' table ') AS lines
      FROM documents
    ),
    k AS (
      SELECT doc_id, source, text, len(lines) AS n_lines,
             list_filter(lines, l ->
               len(list_filter(string_split(l, ' '), w -> w != '')) >= 3
               AND NOT contains(lower(l), 'slow')) AS kept
      FROM d
    ),
    c AS (
      SELECT source, n_lines, len(kept) AS n_kept,
             length(array_to_string(kept, ' table ')) AS clean_len,
             CASE WHEN len(kept) >= 2
                   AND NOT contains(lower(text), 'lorem ipsum')
                   AND NOT contains(text, '{') THEN 1 ELSE 0 END AS keep
      FROM k
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(n_kept) AS BIGINT) AS s_kept_lines,
           CAST(SUM(clean_len) AS BIGINT) AS s_clean_len
    FROM c GROUP BY source ORDER BY source
    """,
    "C4 line-structure cleaning (Raffel et al. 2020 §2.2) — "
    "operators/curation.py::c4_line_filter: line survives on word "
    "count + no-drop-token, document on kept-line count + lorem-ipsum/"
    "brace tells; all split/filter/array_join HOFs fused into the scan "
    "(no shuffle before the final rollup). Lines are synthesized by "
    "splitting on the literal token ' table ' — rule parameters are "
    "corpus-adapted (q187 stance), rule shapes are C4's",
)
def q192(spark, sf_dir):
    from kubenetmon_spark.operators.curation import c4_line_filter

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    c = c4_line_filter(
        d,
        text_col="text",
        line_sep=" table ",
        min_words_per_line=3,
        min_kept_lines=2,
        terminal_chars=None,
        drop_tokens=("slow",),
    )
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("c4_keep"), 1).otherwise(0)).alias("n_keep"),
            F.sum("c4_n_kept").cast("long").alias("s_kept_lines"),
            F.sum(F.length("c4_clean")).cast("long").alias("s_clean_len"),
        )
        .orderBy("source")
    )


@_register(
    "q193_line_dedup",
    """
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' table ') AS lines
      FROM documents
    ),
    l AS (
      SELECT doc_id, source, i - 1 AS pos,
             lines[CAST(i AS INTEGER)] AS line
      FROM d, UNNEST(generate_series(1, len(lines))) u(i)
      WHERE lines[CAST(i AS INTEGER)] != ''
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                   ORDER BY doc_id, pos) AS rk
      FROM l
    ),
    p AS (
      SELECT doc_id, source, COUNT(*) AS n_lines,
             SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept,
             coalesce(string_agg(CASE WHEN rk = 1 THEN line END,
                                 ' table ' ORDER BY pos), '') AS t
      FROM r GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS s_lines,
           CAST(SUM(n_kept) AS BIGINT) AS s_kept,
           CAST(SUM(length(t)) AS BIGINT) AS s_len
    FROM p GROUP BY source ORDER BY source
    """,
    "RefinedWeb/Falcon global line-level exact dedup with document "
    "reassembly — operators/curation.py::dedup_lines: first occurrence "
    "corpus-wide wins (deterministic (doc_id, pos) order), documents "
    "rebuilt from surviving lines in original order; two natural-key "
    "shuffles (by line text, then by doc) — the dedup state IS the "
    "partitioning, no driver state",
)
def q193(spark, sf_dir):
    from kubenetmon_spark.operators.curation import dedup_lines

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    p = dedup_lines(d, "doc_id", "text", line_sep=" table ")
    joined = p.join(d.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("s_lines"),
            F.sum("n_kept").cast("long").alias("s_kept"),
            F.sum(F.length("dedup_text")).cast("long").alias("s_len"),
        )
        .orderBy("source")
    )


@_register(
    "q194_seasonal_decompose",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, h, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) - 1
               AS idx
      FROM h
    ),
    t AS (
      SELECT event_type, idx, cnt,
             2 * SUM(cnt) OVER w12
               - LAG(cnt, 12) OVER wo - LEAD(cnt, 12) OVER wo AS tnum,
             COUNT(cnt) OVER w12 AS c
      FROM s
      WINDOW wo AS (PARTITION BY event_type ORDER BY idx),
             w12 AS (PARTITION BY event_type ORDER BY idx
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    d AS (
      SELECT event_type, idx % 24 AS phase, 48 * cnt - tnum AS dn
      FROM t WHERE c = 25
    )
    SELECT event_type, CAST(phase AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dn) AS BIGINT) AS s_detr,
           CAST(floor(CAST(SUM(dn) * 1000 AS DOUBLE) / (COUNT(*) * 48))
                AS BIGINT) AS seasonal_milli
    FROM d GROUP BY event_type, phase ORDER BY event_type, phase
    """,
    "ClickHouse seriesDecomposeSTL's job — classical additive seasonal-"
    "trend decomposition (2x24 centered MA over the hourly event-count "
    "series, period 24) in SCALED INTEGER arithmetic: "
    "operators/timeseries.py::seasonal_decompose/seasonal_profile; all "
    "windows share one (group, ord) sort, floor-division (not "
    "truncation) for the negative detrended values",
)
def q194(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import seasonal_profile

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    prof = seasonal_profile(hourly, ["event_type"], "h", "cnt", 24)
    return prof.select(
        "event_type",
        F.col("phase").cast("long").alias("phase"),
        F.col("n").cast("long").alias("n"),
        F.col("s_detr").cast("long").alias("s_detr"),
        "seasonal_milli",
    ).orderBy("event_type", "phase")


@_register(
    "q195_period_detect",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) - 1
               AS idx,
             COUNT(*) OVER (PARTITION BY event_type) * cnt
               - SUM(cnt) OVER (PARTITION BY event_type) AS y
      FROM h
    ),
    ac AS (
      SELECT a.event_type, l.lag AS lag,
             SUM(a.y * b.y) AS ac, COUNT(*) AS pairs
      FROM s a
      JOIN UNNEST(generate_series(2, 36)) l(lag) ON TRUE
      JOIN s b ON b.event_type = a.event_type
              AND b.idx = a.idx + l.lag
      GROUP BY a.event_type, l.lag
    ),
    best AS (
      SELECT event_type, lag, ac, pairs,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ac DESC, lag) AS rk
      FROM ac
    )
    SELECT event_type, CAST(lag AS BIGINT) AS best_lag,
           CAST(ac AS BIGINT) AS autocov,
           CAST(pairs AS BIGINT) AS n_pairs
    FROM best WHERE rk = 1 ORDER BY event_type
    """,
    "ClickHouse seriesPeriodDetectFFT's job — dominant period per "
    "series via exact-integer autocovariance argmax over lags 2..36 "
    "(operators/timeseries.py::detect_period): mean-centering scaled "
    "by n keeps everything integer; the lag join shuffles on the "
    "natural (series, idx) key, verdict reproducible bit-for-bit",
)
def q195(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import detect_period

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    return (
        detect_period(
            hourly, ["event_type"], "h", "cnt", min_lag=2, max_lag=36
        )
        .select("event_type", "best_lag", "autocov", "n_pairs")
        .orderBy("event_type")
    )


@_register(
    "q196_ols_two_features",
    """
    WITH e AS (
      -- scales sized for the overflow contract THROUGH sf1 (n ~ 2e5
      -- per group): 24*n^5*Mx^4*My with Mx=30, My=1008 is ~6e36 of
      -- the 5e37 budget; the previous %97/%89/%10007 scales tripped
      -- the ols2_exact guard at sf0.1 (n ~ 2e4 made the single-M form
      -- fire) and genuinely overflow decimal(38,0) at sf1
      SELECT event_type, user_id % 31 AS x1, event_id % 29 AS x2,
             (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % 1009
               AS y
      FROM events
    ),
    a AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x1*x2) AS s12,
             SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
      FROM e GROUP BY 1
    ),
    c AS (
      SELECT event_type, n, s1, s2, sy,
             n*s11 - s1*s1 AS c11, n*s22 - s2*s2 AS c22,
             n*s12 - s1*s2 AS c12,
             n*s1y - s1*sy AS c1y, n*s2y - s2*sy AS c2y
      FROM a
    ),
    d AS (
      SELECT event_type, n, s1, s2, sy,
             c11*c22 - c12*c12 AS det,
             c1y*c22 - c2y*c12 AS n1,
             c2y*c11 - c1y*c12 AS n2
      FROM c
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(det AS VARCHAR) AS det,
           CAST(n1 AS VARCHAR) AS b1_num,
           CAST(n2 AS VARCHAR) AS b2_num,
           CAST(sy*det - n1*s1 - n2*s2 AS VARCHAR) AS b0_num,
           CAST(n*det AS VARCHAR) AS b0_den
    FROM d ORDER BY event_type
    """,
    "ClickHouse stochasticLinearRegression's surface for p=2, solved "
    "EXACTLY: normal equations + Cramer's rule over n-scaled centered "
    "integer moments, determinant algebra in DECIMAL(38,0) (Spark) / "
    "HUGEINT (DuckDB) — operators/stats.py::ols2_exact; the gate "
    "hashes the exact numerator/denominator integer strings, immune "
    "to any float or sum-order effect",
)
def q196(spark, sf_dir):
    from kubenetmon_spark.operators.stats import ols2_exact

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 31).alias("x1"),
        (F.col("event_id") % 29).alias("x2"),
        (
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            % 1009
        ).alias("y"),
    )
    return (
        ols2_exact(ev, ["event_type"], "x1", "x2", "y")
        .select(
            "event_type", "n", "det", "b1_num", "b2_num", "b0_num",
            "b0_den",
        )
        .orderBy("event_type")
    )


@_register(
    "q197_datetime_completion",
    """
    WITH x AS (
      SELECT event_type,
             floor(epoch_us(ts) / 3600000000.0) AS hr,
             floor(epoch_us(ts) / 86400000000.0) AS dy,
             isodow(ts) AS dow,
             floor((epoch_us(ts) / 1000000.0 + 5400) / 1800)
               - floor(epoch_us(ts) / 1000000.0 / 1800) + 1 AS n_slots,
             floor((epoch_us(ts) / 1000000.0 + 18000) / 3600)
               - floor(epoch_us(ts) / 3600000000.0) AS h5,
             strftime(last_day(ts), '%Y-%m-%d') AS ld
      FROM events
    )
    SELECT event_type,
           CAST(MIN(hr) AS BIGINT) AS min_hr,
           CAST(MAX(dy) AS BIGINT) AS max_dy,
           CAST(SUM(dow) AS BIGINT) AS s_dow,
           CAST(SUM(n_slots) AS BIGINT) AS s_slots,
           CAST(SUM(h5) AS BIGINT) AS s_h5,
           CAST(COUNT(DISTINCT ld) AS BIGINT) AS n_ld
    FROM x GROUP BY event_type ORDER BY event_type
    """,
    "ClickHouse datetime completion — toRelativeHour/DayNum, dayOfWeek "
    "(Monday=1), timeSlots (slot-boundary fan-out), addHours, "
    "toLastDayOfMonth as inlined SQL UDFs (sql.py); identical IEEE "
    "epoch arithmetic on whole-microsecond inputs keeps every floor "
    "exact in both engines",
)
def q197(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH x AS (
          SELECT event_type,
                 toRelativeHourNum(ts) AS hr,
                 toRelativeDayNum(ts) AS dy,
                 toDayOfWeek(ts) AS dow,
                 size(timeSlots(ts, CAST(5400 AS BIGINT),
                                CAST(1800 AS BIGINT))) AS n_slots,
                 toRelativeHourNum(addHours(ts, 5))
                   - toRelativeHourNum(ts) AS h5,
                 date_format(toLastDayOfMonth(ts), 'yyyy-MM-dd') AS ld
          FROM events
        )
        SELECT event_type,
               CAST(MIN(hr) AS BIGINT) AS min_hr,
               CAST(MAX(dy) AS BIGINT) AS max_dy,
               CAST(SUM(dow) AS BIGINT) AS s_dow,
               CAST(SUM(n_slots) AS BIGINT) AS s_slots,
               CAST(SUM(h5) AS BIGINT) AS s_h5,
               CAST(COUNT(DISTINCT ld) AS BIGINT) AS n_ld
        FROM x GROUP BY event_type ORDER BY event_type
        """
    )


@_register(
    "q198_array_completion",
    """
    WITH e AS (
      SELECT user_id % 500 AS grp, ts, event_id,
             (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % 7 AS v
      FROM events
    ),
    arrs AS (
      SELECT grp, list(v ORDER BY ts, event_id) AS a FROM e GROUP BY grp
    ),
    compacted AS (
      SELECT grp, a,
             len(list_filter(a, (x, i) -> i = 1 OR x != a[i - 1]))
               AS compact_len
      FROM arrs
    ),
    pos AS (
      SELECT grp, u.i AS p, a[CAST(u.i AS INTEGER)] AS v
      FROM arrs, UNNEST(generate_series(1, len(a))) u(i)
    ),
    filled AS (
      SELECT grp,
             coalesce(last_value(CASE WHEN v != 0 THEN v END IGNORE NULLS)
               OVER (PARTITION BY grp ORDER BY p), 0) AS fv
      FROM pos
    ),
    fs AS (SELECT grp, SUM(fv) AS filled_sum FROM filled GROUP BY grp),
    jac AS (
      SELECT grp,
             len(list_distinct(list_intersect(a, [0,1,2,3]))) AS ni,
             len(list_distinct(a || [0,1,2,3])) AS nu
      FROM compacted
    )
    SELECT c.grp,
           CAST(c.compact_len AS BIGINT) AS compact_len,
           CAST(f.filled_sum AS BIGINT) AS filled_sum,
           CAST((j.ni * 10000) // j.nu AS BIGINT) AS jaccard_bp
    FROM compacted c
    JOIN fs f ON f.grp = c.grp
    JOIN jac j ON j.grp = c.grp
    ORDER BY c.grp
    """,
    "ClickHouse array completion — arrayCompact (consecutive-dup "
    "collapse via indexed filter), arrayFill forward-fill (aggregate "
    "fold), arrayJaccardIndex — inlined SQL UDF bodies over per-group "
    "ordered arrays (one deterministic (ts, event_id) sort feeds the "
    "collect); the oracle re-derives the fill with an IGNORE NULLS "
    "window over unnested positions — different mechanism, same values",
)
def q198(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT user_id % 500 AS grp, ts, event_id,
                 (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % 7
                   AS v
          FROM events
        ),
        arrs AS (
          SELECT grp,
                 transform(array_sort(collect_list(
                   struct(ts, event_id, v))), s -> s.v) AS a
          FROM e GROUP BY grp
        )
        SELECT grp,
               CAST(size(arrayCompact(a)) AS BIGINT) AS compact_len,
               CAST(aggregate(arrayFillForward(a), CAST(0 AS BIGINT),
                              (acc, x) -> acc + x) AS BIGINT)
                 AS filled_sum,
               CAST((size(array_intersect(a, array(0, 1, 2, 3))) * 10000)
                    div size(array_union(a, array(0, 1, 2, 3)))
                 AS BIGINT) AS jaccard_bp
        FROM arrs ORDER BY grp
        """
    )


def _pagerank_oracle_sql(iters: int = 10) -> str:
    """Unrolled fixed-iteration PageRank as plain CTE SQL (DuckDB has
    no aggregates-in-recursive-CTE, so the oracle unrolls — every
    division is integer floor `//`, matching pagerank_exact)."""
    parts = [
        """
    WITH e AS (
      SELECT DISTINCT user_id % 60 AS s,
             (user_id // 60 + event_id) % 60 AS d
      FROM events
      WHERE user_id % 60 != (user_id // 60 + event_id) % 60
    ),
    deg AS (SELECT s, COUNT(*) AS dg FROM e GROUP BY s),
    nodes AS (SELECT DISTINCT s AS node FROM e
              UNION SELECT DISTINCT d FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (SELECT node,
            CAST(1000000000 AS BIGINT) // (SELECT n FROM nn) AS pr
            FROM nodes)"""
    ]
    for k in range(iters):
        parts.append(f"""
    c{k} AS (SELECT e.d AS node, SUM(p.pr // deg.dg) AS sc
             FROM e JOIN deg ON deg.s = e.s
             JOIN pr{k} p ON p.node = e.s
             GROUP BY e.d),
    pr{k + 1} AS (SELECT n.node,
             (CAST(1000000000 AS BIGINT) * 15)
               // (100 * (SELECT n FROM nn))
             + (85 * COALESCE(c.sc, 0)) // 100 AS pr
           FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)""")
    final = f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(pr AS BIGINT) AS pr
    FROM pr{iters} ORDER BY node"""
    return ",".join(parts) + final


@_register(
    "q200_pagerank",
    _pagerank_oracle_sql(10),
    "Fixed-iteration PageRank in exact integer ppb arithmetic — "
    "operators/graph.py::pagerank_exact (rank duplicate clusters / "
    "link graphs; floor division at both divide sites makes every "
    "engine and partitioning agree bit-for-bit); oracle = the 10 "
    "iterations unrolled as CTEs, one join+groupBy shuffle per round "
    "on the Spark side with localCheckpoint lineage cuts",
)
def q200(spark, sf_dir):
    from kubenetmon_spark.operators.graph import pagerank_exact

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 60).alias("s"),
        ((F.expr("user_id div 60") + F.col("event_id")) % 60).alias("d"),
    ).filter(F.col("s") != F.col("d"))
    pr = pagerank_exact(ev, "s", "d", iterations=10)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.col("pr").cast("long").alias("pr"),
    ).orderBy("node")


@_register(
    "q201_media_dedup_pipeline",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE length(text) >= 64
    ),
    raw_pos AS (
      SELECT doc_id, text, L, unnest(generate_series(1, L)) AS p FROM d
    ),
    pos AS (
      SELECT doc_id, L, p,
             unicode(substring(text, CAST(p AS INTEGER), 1)) AS cp,
             ((p - 1) * 64) // L AS c
      FROM raw_pos
    ),
    luma AS (
      SELECT doc_id, c, SUM(cp) AS luma FROM pos GROUP BY doc_id, c
    ),
    tot AS (SELECT doc_id, SUM(luma) AS total FROM luma GROUP BY doc_id),
    bits AS (
      SELECT l.doc_id, l.c,
             CASE WHEN 64 * l.luma >= t.total THEN 1 ELSE 0 END AS bit
      FROM luma l JOIN tot t ON t.doc_id = l.doc_id
    ),
    bands AS (
      SELECT doc_id, c // 16 AS bj,
             CAST(SUM(bit * (1 << (15 - (c % 16)))) AS BIGINT) AS bv
      FROM bits GROUP BY doc_id, c // 16
    ),
    wide AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN bj = 0 THEN bv END), 0) AS b0,
             COALESCE(SUM(CASE WHEN bj = 1 THEN bv END), 0) AS b1,
             COALESCE(SUM(CASE WHEN bj = 2 THEN bv END), 0) AS b2,
             COALESCE(SUM(CASE WHEN bj = 3 THEN bv END), 0) AS b3
      FROM bands GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM bands a
      JOIN bands b ON a.bj = b.bj AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_1, c.id_2
      FROM cand c
      JOIN wide w1 ON w1.doc_id = c.id_1
      JOIN wide w2 ON w2.doc_id = c.id_2
      WHERE bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
          + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3))
          <= 3
    ),
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION SELECT id_2, id_1 FROM pairs
    ),
    gnodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM gnodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_rep FROM reach GROUP BY node)
    SELECT comp.cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS size,
           CAST(SUM(comp.node) AS BIGINT) AS member_sum,
           CAST(COUNT(DISTINCT doc.source) AS BIGINT) AS n_sources
    FROM comp JOIN documents doc ON doc.doc_id = comp.node
    GROUP BY comp.cluster_rep ORDER BY comp.cluster_rep
    """,
    "the multimodal dedup pipeline composed end to end in ONE plan: "
    "decode stand-in -> aHash (Arrow batch) -> banded Hamming LSH "
    "pairs (q141) -> connected-component duplicate clusters (q43's "
    "closure) -> canonical representative + cross-source accounting; "
    "oracle replays the full chain with a recursive-CTE closure",
)
def q201(spark, sf_dir):
    from kubenetmon_spark.operators.graph import duplicate_clusters
    from kubenetmon_spark.operators.media import (
        media_from_text,
        perceptual_hash_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= 64)
    media = media_from_text(d, "doc_id", "text")
    pairs = perceptual_hash_pairs(media, max_hamming=3)
    clusters = duplicate_clusters(pairs)
    src = d.select(F.col("doc_id").alias("node"), "source")
    return (
        clusters.join(src, "node")
        .groupBy("cluster_rep")
        .agg(
            F.count("*").alias("size"),
            F.sum("node").alias("member_sum"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("cluster_rep")
    )


@_register(
    "q202_dataset_split",
    """
    WITH b AS (
      SELECT doc_id, source,
             (CAST('0x' || substring(md5('split:' ||
                CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) * 10000)
               // 65536 AS m
      FROM documents
    ),
    s AS (
      SELECT doc_id, source,
             CASE WHEN m < 8000 THEN 'train'
                  WHEN m < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM s GROUP BY source, split ORDER BY source, split
    """,
    "deterministic train/val/test split — "
    "operators/curation.py::split_dataset: assignment is a pure "
    "function of md5(salt:id), so eval membership never shifts as the "
    "corpus grows; exact integer bucket rescale, zero shuffle before "
    "the accounting rollup",
)
def q202(spark, sf_dir):
    from kubenetmon_spark.operators.curation import split_dataset

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    s = split_dataset(
        d, "doc_id", {"train": 8000, "val": 1000, "test": 1000}
    )
    return (
        s.groupBy("source", "split")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source", "split")
    )


@_register(
    "q203_seasonal_forecast",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hh, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, hh, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) - 1
               AS idx
      FROM h
    ),
    t AS (
      SELECT event_type, idx, cnt,
             2 * SUM(cnt) OVER w12
               - LAG(cnt, 12) OVER wo - LEAD(cnt, 12) OVER wo AS tnum,
             COUNT(cnt) OVER w12 AS c
      FROM s
      WINDOW wo AS (PARTITION BY event_type ORDER BY idx),
             w12 AS (PARTITION BY event_type ORDER BY idx
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    last_trend AS (
      SELECT event_type, tnum FROM t WHERE c = 25
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY idx DESC) = 1
    ),
    last_idx AS (
      SELECT event_type, MAX(idx) AS li FROM s GROUP BY event_type
    ),
    prof AS (
      SELECT event_type, idx % 24 AS phase,
             COUNT(*) AS n, SUM(48 * cnt - tnum) AS s_detr
      FROM t WHERE c = 25 GROUP BY event_type, idx % 24
    ),
    fc AS (
      SELECT li.event_type, u.h AS h, (li.li + u.h) % 24 AS phase
      FROM last_idx li, UNNEST(generate_series(1, 12)) u(h)
    )
    SELECT fc.event_type, CAST(fc.h AS BIGINT) AS h,
           CAST(fc.phase AS BIGINT) AS phase,
           CAST(CAST(floor(CAST(lt.tnum * 1000 AS DOUBLE) / 48) AS BIGINT)
             + COALESCE(CAST(floor(CAST(p.s_detr * 1000 AS DOUBLE)
                                   / (p.n * 48)) AS BIGINT), 0)
             AS BIGINT) AS forecast_milli
    FROM fc
    JOIN last_trend lt ON lt.event_type = fc.event_type
    LEFT JOIN prof p ON p.event_type = fc.event_type
                    AND p.phase = fc.phase
    ORDER BY fc.event_type, fc.h
    """,
    "seasonal-naive forecast (the baseline every forecaster must "
    "beat): last defined 2x24-MA trend + per-phase seasonal index, "
    "12 hours ahead, exact scaled integers end to end — "
    "operators/timeseries.py::seasonal_forecast composing "
    "seasonal_decompose (q194); capacity planning over the flow "
    "table's minute/hour rollups is the kubenetmon use case",
)
def q203(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import seasonal_forecast

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hh"))
        .agg(F.count("*").alias("cnt"))
    )
    fc = seasonal_forecast(
        hourly, ["event_type"], "hh", "cnt", period=24, horizon=12
    )
    return fc.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        F.col("phase").cast("long").alias("phase"),
        "forecast_milli",
    ).orderBy("event_type", "h")


@_register(
    "q204_seasonal_anomalies",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hh, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, hh, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) - 1
               AS idx
      FROM h
    ),
    t AS (
      SELECT event_type, idx, cnt,
             2 * SUM(cnt) OVER w12
               - LAG(cnt, 12) OVER wo - LEAD(cnt, 12) OVER wo AS tnum,
             COUNT(cnt) OVER w12 AS c
      FROM s
      WINDOW wo AS (PARTITION BY event_type ORDER BY idx),
             w12 AS (PARTITION BY event_type ORDER BY idx
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    d AS (
      SELECT event_type, idx, idx % 24 AS phase, 48 * cnt - tnum AS dn
      FROM t WHERE c = 25
    ),
    prof AS (
      SELECT event_type, phase, COUNT(*) AS np, SUM(dn) AS sd
      FROM d GROUP BY 1, 2
    ),
    r AS (
      SELECT d.event_type, d.idx,
             d.dn - CAST(floor(CAST(p.sd AS DOUBLE) / p.np) AS BIGINT)
               AS rn
      FROM d JOIN prof p ON p.event_type = d.event_type
                        AND p.phase = d.phase
    ),
    st AS (
      SELECT event_type, COUNT(*) AS n, SUM(rn * rn) AS ss
      FROM r GROUP BY 1
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(CASE WHEN 100 * r.rn * r.rn * st.n > 900 * st.ss
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
           CAST(MAX(abs(r.rn)) AS BIGINT) AS max_abs_resid
    FROM r JOIN st ON st.event_type = r.event_type
    GROUP BY r.event_type ORDER BY r.event_type
    """,
    "seasonally-adjusted anomaly detection — "
    "operators/timeseries.py::seasonal_anomalies: residual vs 3.0 "
    "sigma via the cross-multiplied integer rule 100*r^2*n > k^2*Sum "
    "r^2 (no sqrt, no floats); the daily shape is removed first so "
    "peak hours don't false-positive — the metering alarm use case",
)
def q204(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import seasonal_anomalies

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hh"))
        .agg(F.count("*").alias("cnt"))
    )
    a = seasonal_anomalies(
        hourly, ["event_type"], "hh", "cnt", period=24, k_tenths=30
    )
    return (
        a.groupBy("event_type")
        .agg(
            F.count("*").alias("n_steps"),
            F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias(
                "n_anom"
            ),
            F.max(F.abs(F.col("resid_num"))).alias("max_abs_resid"),
        )
        .orderBy("event_type")
    )


@_register(
    "q205_data_quality",
    """
    WITH v AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
                       OR l_quantity IS NULL THEN 1 ELSE 0 END) AS v_qty,
             SUM(CASE WHEN NOT (l_extendedprice > 0)
                       OR l_extendedprice IS NULL THEN 1 ELSE 0 END)
               AS v_price,
             SUM(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1)
                       OR l_discount IS NULL THEN 1 ELSE 0 END) AS v_disc,
             SUM(CASE WHEN NOT (l_shipdate >= DATE '1992-01-01')
                       OR l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_ship
      FROM lineitem
    ),
    rules AS (
      SELECT 'qty_range' AS rule, n_rows, v_qty AS n_violations FROM v
      UNION ALL SELECT 'price_positive', n_rows, v_price FROM v
      UNION ALL SELECT 'discount_range', n_rows, v_disc FROM v
      UNION ALL SELECT 'shipdate_floor', n_rows, v_ship FROM v
    ),
    ref AS (
      SELECT 'orders_customer_fk' AS rule,
             (SELECT COUNT(*) FROM orders) AS n_rows,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey IS NULL OR NOT EXISTS
                (SELECT 1 FROM customer c
                 WHERE c.c_custkey = o.o_custkey)) AS n_violations
    ),
    allr AS (SELECT * FROM rules UNION ALL SELECT * FROM ref)
    SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(CASE WHEN n_rows > 0
                THEN floor(CAST(n_violations * 10000 AS DOUBLE) / n_rows)
                ELSE 0 END AS BIGINT) AS viol_bp
    FROM allr ORDER BY rule
    """,
    "declarative data-quality audit (the Deequ/dbt-test capability) — "
    "operators/audit.py::check_rules folds every rule into ONE "
    "aggregation over one scan (null predicate = violation, the 3VL "
    "trap made explicit); referential_violations = one anti-join "
    "against the projected parent key set; the reference's pre-INSERT "
    "invariants (labeler.go error taxonomy) moved into the engine",
)
def q205(spark, sf_dir):
    from kubenetmon_spark.operators.audit import (
        check_rules,
        referential_violations,
    )

    li = _t(spark, sf_dir, "lineitem")
    rules = check_rules(
        li,
        {
            "qty_range": F.col("l_quantity").between(1, 50),
            "price_positive": F.col("l_extendedprice") > 0,
            "discount_range": F.col("l_discount").between(0, 0.1),
            "shipdate_floor": F.col("l_shipdate") >= F.lit("1992-01-01").cast("date"),
        },
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n_orders = o.agg(F.count("*").alias("n")).collect()[0].n
    orphans = referential_violations(o, c, "o_custkey", "c_custkey").agg(
        F.count("*").alias("n_violations")
    )
    ref = orphans.select(
        F.lit("orders_customer_fk").alias("rule"),
        F.lit(n_orders).cast("long").alias("n_rows"),
        F.col("n_violations").cast("long"),
        F.when(
            F.lit(n_orders) > 0,
            F.floor(F.col("n_violations") * 10000 / F.lit(n_orders)),
        )
        .otherwise(0)
        .cast("long")
        .alias("viol_bp"),
    )
    return rules.unionByName(ref).orderBy("rule")


@_register(
    "q206_scalar_round2",
    """
    WITH x AS (
      SELECT strftime(ts, '%Y-%m') AS ym,
             len(regexp_extract_all(props, '[0-9]')) AS nd,
             length(regexp_replace(props, '[0-9]+', '#', 'g')) AS lr,
             CASE WHEN regexp_replace(event_type, '[aeiou]', 'X')
                       != event_type THEN 1 ELSE 0 END AS ch
      FROM events
    )
    SELECT ym, CAST(SUM(nd) AS BIGINT) AS s_digits,
           CAST(SUM(lr) AS BIGINT) AS s_len,
           CAST(SUM(ch) AS BIGINT) AS n_changed,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY ym ORDER BY ym
    """,
    "scalar stragglers round 2 — formatDateTime (ClickHouse "
    "%-patterns chained-replace-translated to date_format), "
    "countMatches, replaceRegexpAll/replaceRegexpOne as inlined SQL "
    "UDFs (sql.py); DuckDB oracle uses its native %-strftime and "
    "non-global regexp_replace for the replace-one semantics",
)
def q206(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH x AS (
          SELECT formatDateTime(ts, '%Y-%m') AS ym,
                 countMatches(props, '[0-9]') AS nd,
                 length(replaceRegexpAll(props, '[0-9]+', '#')) AS lr,
                 CASE WHEN replaceRegexpOne(event_type, '[aeiou]', 'X')
                           != event_type THEN 1 ELSE 0 END AS ch
          FROM events
        )
        SELECT ym, CAST(SUM(nd) AS BIGINT) AS s_digits,
               CAST(SUM(lr) AS BIGINT) AS s_len,
               CAST(SUM(ch) AS BIGINT) AS n_changed,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM x GROUP BY ym ORDER BY ym
        """
    )


@_register(
    "q207_covariance_matrix",
    """
    WITH e AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    pairs AS (
      SELECT u.i - 1 AS i, v.j - 1 AS j,
             q[CAST(u.i AS INTEGER)] * q[CAST(v.j AS INTEGER)] AS xy
      FROM e,
           UNNEST(generate_series(1, 64)) u(i),
           UNNEST(generate_series(1, 64)) v(j)
      WHERE v.j >= u.i
    ),
    sij AS (
      SELECT i, j, SUM(xy) AS s_ij, COUNT(*) AS n
      FROM pairs GROUP BY i, j
    ),
    ds AS (
      SELECT u.i - 1 AS d, SUM(q[CAST(u.i AS INTEGER)]) AS s
      FROM e, UNNEST(generate_series(1, 64)) u(i) GROUP BY u.i
    )
    SELECT sij.i, sij.j,
           CAST(sij.n AS BIGINT) AS n,
           CAST(sij.s_ij AS BIGINT) AS s_ij,
           CAST(sij.n * sij.s_ij - a.s * b.s AS BIGINT) AS cov_num
    FROM sij JOIN ds a ON a.d = sij.i JOIN ds b ON b.d = sij.j
    WHERE sij.i < 8 AND sij.j < 8
    ORDER BY sij.i, sij.j
    """,
    "exact n-scaled covariance matrix of the embedding corpus (PCA/"
    "whitening input) — operators/similarity.py::covariance_matrix_"
    "exact: per-row upper-triangle outer products, one hash agg whose "
    "key space is the FIXED d(d+1)/2 cells (map-side combine collapses "
    "before the exchange); gate emits the leading 8x8 block",
)
def q207(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import (
        covariance_matrix_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cov = covariance_matrix_exact(emb, "embedding", dims=64, scale=1000)
    return (
        cov.filter((F.col("i") < 8) & (F.col("j") < 8))
        .select("i", "j", "n", "s_ij", "cov_num")
        .orderBy("i", "j")
    )


@_register(
    "q208_array_map_stragglers",
    """
    WITH e AS (
      SELECT user_id % 500 AS grp, ts, event_id,
             (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % 5 AS v,
             event_id % 7 + 1 AS k,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    arrs AS (
      SELECT grp, list(v ORDER BY ts, event_id) AS a FROM e GROUP BY grp
    ),
    dense AS (
      SELECT grp,
             list_sum(list_transform(a, x ->
               len(list_distinct(a[1:list_position(a, x)])))) AS s_dense
      FROM arrs
    ),
    pk AS (SELECT grp, k, SUM(cents) AS v FROM e GROUP BY grp, k),
    bounds AS (SELECT grp, MIN(k) AS mn, MAX(k) AS mx FROM pk GROUP BY grp),
    series AS (
      SELECT b.grp, u.k FROM bounds b,
             UNNEST(generate_series(b.mn, b.mx)) u(k)
    ),
    filled AS (
      SELECT s.grp, s.k, COALESCE(pk.v, 0) AS v
      FROM series s LEFT JOIN pk ON pk.grp = s.grp AND pk.k = s.k
    ),
    pop AS (
      SELECT grp,
             '{' || string_agg('"' || k || '":' || v, ',' ORDER BY k)
               || '}' AS pop_json
      FROM filled GROUP BY grp
    )
    SELECT d.grp, CAST(d.s_dense AS BIGINT) AS s_dense, p.pop_json
    FROM dense d JOIN pop p ON p.grp = d.grp ORDER BY d.grp
    """,
    "array/map stragglers — arrayEnumerateDense (dense rank by first "
    "occurrence; the oracle uses the order-insensitive prefix-distinct-"
    "count identity because DuckDB's list_distinct does not preserve "
    "order) and mapPopulateSeries (integer-key gap fill, entries "
    "key-ascending by construction) — sql.py inlined UDFs over "
    "per-group ordered arrays / canonical maps",
)
def q208(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH e AS (
          SELECT user_id % 500 AS grp, ts, event_id,
                 (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % 5
                   AS v,
                 CAST(event_id % 7 + 1 AS BIGINT) AS k,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM events
        ),
        arrs AS (
          SELECT grp,
                 transform(array_sort(collect_list(
                   struct(ts, event_id, v))), s -> s.v) AS a
          FROM e GROUP BY grp
        ),
        dense AS (
          SELECT grp,
                 aggregate(arrayEnumerateDense(a), CAST(0 AS BIGINT),
                           (acc, x) -> acc + x) AS s_dense
          FROM arrs
        ),
        pk AS (SELECT grp, k, SUM(cents) AS v FROM e GROUP BY grp, k),
        maps AS (
          SELECT grp, map_from_entries(collect_list(struct(k, v))) AS m
          FROM pk GROUP BY grp
        ),
        pop AS (
          SELECT grp,
                 concat('{', array_join(transform(
                   map_entries(mapPopulateSeries(m)),
                   en -> concat('"', cast(en.key as string), '":',
                                cast(en.value as string))), ','), '}')
                   AS pop_json
          FROM maps
        )
        SELECT d.grp, d.s_dense, p.pop_json
        FROM dense d JOIN pop p ON p.grp = d.grp ORDER BY d.grp
        """
    )


@_register(
    "q209_remove_duplicate_spans",
    r"""
    WITH arr AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '\s+'), x -> x != '')
               AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, u.i - 1 AS p,
             t[CAST(u.i AS INTEGER)] AS tok
      FROM arr, UNNEST(generate_series(1, len(t))) u(i)
    ),
    g AS (
      SELECT doc_id, u.i - 1 AS pos,
             array_to_string(t[CAST(u.i AS INTEGER):CAST(u.i + 7 AS INTEGER)],
                             ' ') AS gram
      FROM arr, UNNEST(generate_series(1, len(t) - 7)) u(i)
      WHERE len(t) >= 8
    ),
    ranked AS (
      SELECT doc_id, pos, gram,
             ROW_NUMBER() OVER (PARTITION BY gram
                                ORDER BY doc_id, pos) AS rk,
             COUNT(*) OVER (PARTITION BY gram) AS cnt
      FROM g
    ),
    covered AS (
      SELECT DISTINCT doc_id, u.c AS cov
      FROM ranked, UNNEST(generate_series(pos, pos + 7)) u(c)
      WHERE cnt > 1 AND rk > 1
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
             coalesce(string_agg(CASE WHEN c.doc_id IS NULL THEN t.tok END,
                                 ' ' ORDER BY t.p), '') AS rebuilt,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS n_removed
      FROM toks t LEFT JOIN covered c
        ON c.doc_id = t.doc_id AND c.cov = t.p
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(SUM(n_tokens) AS BIGINT) AS s_tokens,
           CAST(SUM(n_removed) AS BIGINT) AS s_removed,
           CAST(SUM(length(rebuilt)) AS BIGINT) AS s_len
    FROM per_doc GROUP BY source ORDER BY source
    """,
    "exact-substring dedup WITH REMOVAL (Lee et al. 2022 ExactSubstr; "
    "q101 only measured) — operators/dedup.py::remove_duplicate_spans: "
    "duplicated 8-token spans keep their first (doc, pos) occurrence, "
    "all other occurrences' tokens are cut and documents reassembled; "
    "one gram-text shuffle (the dedup state IS the partitioning), "
    "covered-position explode bounded by k x duplicated occurrences",
)
def q209(spark, sf_dir):
    from kubenetmon_spark.operators.dedup import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = remove_duplicate_spans(d, "doc_id", "text", k=8)
    joined = out.join(d.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("n_tokens").alias("s_tokens"),
            F.sum("n_removed").alias("s_removed"),
            F.sum(F.length("dedup_text")).alias("s_len"),
        )
        .orderBy("source")
    )


@_register(
    "q210_winsorize",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM o
    ),
    b AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(floor(0.1 * (n - 1)) AS BIGINT) + 1
                      THEN x END) AS wlo,
             MIN(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                      THEN x END) AS whi
      FROM r GROUP BY event_type
    )
    SELECT o.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o.x < b.wlo THEN b.wlo
                         WHEN o.x > b.whi THEN b.whi
                         ELSE o.x END) AS BIGINT) AS s_wins,
           CAST(SUM(CASE WHEN o.x < b.wlo OR o.x > b.whi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           CAST(MIN(b.wlo) AS BIGINT) AS wlo,
           CAST(MAX(b.whi) AS BIGINT) AS whi
    FROM o JOIN b ON b.event_type = o.event_type
    GROUP BY o.event_type ORDER BY o.event_type
    """,
    "per-group winsorization (robust clamping at exact [p10, p90] "
    "quantileExactLow bounds) — operators/stats.py::winsorize: one "
    "sorted pass for bounds (q144's machinery), broadcast join + "
    "clamp expression; sums of clamped integers are exact",
)
def q210(spark, sf_dir):
    from kubenetmon_spark.operators.stats import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
    )
    wz = winsorize(ev, ["event_type"], "x", 0.1, 0.9)
    return (
        wz.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x_wins").alias("s_wins"),
            F.sum(
                F.when(F.col("x") != F.col("x_wins"), 1).otherwise(0)
            ).alias("n_clamped"),
            F.min("x_wins").alias("wlo"),
            F.max("x_wins").alias("whi"),
        )
        .orderBy("event_type")
    )


@_register(
    "q211_negative_sampling",
    """
    WITH v AS (
      SELECT vec_id, label,
             CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                  AS BIGINT)
               % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS b
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS aid, a.label AS albl, c.vec_id AS cid
      FROM v a JOIN v c ON c.b = a.b AND c.label != a.label
                       AND c.vec_id != a.vec_id
    ),
    r AS (
      SELECT aid, albl, cid,
             ROW_NUMBER() OVER (PARTITION BY aid ORDER BY
               CAST('0x' || substring(md5('neg:' || aid || ':' || cid),
                    1, 8) AS BIGINT), cid) AS rk
      FROM p
    )
    SELECT CAST(albl AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cid) AS BIGINT) AS s_neg_ids,
           CAST(COUNT(DISTINCT aid) AS BIGINT) AS n_anchors
    FROM r WHERE rk <= 3 GROUP BY albl ORDER BY label
    """,
    "deterministic negative sampling for contrastive pairs — "
    "operators/curation.py::sample_negatives: negatives are a pure "
    "function of md5(salt:anchor:candidate) within the anchor's hash "
    "bucket. Buckets SCALE with the corpus (max(8, n/256), mirrored in "
    "the oracle's scalar subquery) per the operator's own contract — a "
    "CONSTANT bucket count is still Θ(n²/buckets) candidate pairs, "
    "which the r6 sf10 sweep caught wedging on 5e9 intermediate rows; "
    "scaled buckets keep ~256 candidates per anchor (linear total) and "
    "are bit-identical at every parity SF (all give 8). Round 7 moved "
    "the formula INTO the operator (buckets=None default derives it), "
    "so the gate now exercises the enforced default path",
)
def q211(spark, sf_dir):
    from kubenetmon_spark.operators.curation import sample_negatives

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    neg = sample_negatives(emb, "vec_id", "label", k=3)
    joined = neg.join(
        emb.select(F.col("vec_id").alias("anchor_id"), "label"),
        "anchor_id",
    )
    return (
        joined.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("neg_id").alias("s_neg_ids"),
            F.countDistinct("anchor_id").alias("n_anchors"),
        )
        .orderBy("label")
    )


@_register(
    "q212_calibration_bins",
    """
    WITH s AS (
      SELECT (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 10000)
               AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    b AS (
      SELECT LEAST(CAST(floor(score * 10 / 10000) AS INTEGER), 9) AS bin,
             score, y
      FROM s
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(floor(CAST(SUM(score) * 10000 AS DOUBLE)
                      / (COUNT(*) * 10000)) AS BIGINT) AS mean_score_bp,
           CAST(floor(CAST(SUM(y) * 10000 AS DOUBLE) / COUNT(*))
             AS BIGINT) AS pos_rate_bp
    FROM b GROUP BY bin ORDER BY bin
    """,
    "reliability-diagram / calibration bins (the eval loop behind "
    "quality-scorer thresholds; ECE derivable without another pass) — "
    "operators/stats.py::calibration_bins: integer-scaled scores, one "
    "hash agg over the fixed bin keyspace, exact integer sums + floor "
    "division",
)
def q212(spark, sf_dir):
    from kubenetmon_spark.operators.stats import calibration_bins

    ev = _t(spark, sf_dir, "events").select(
        (
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            % 10000
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return calibration_bins(ev, "score", "y", n_bins=10).select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        "mean_score_bp",
        "pos_rate_bp",
    )


@_register(
    "q213_cohens_kappa",
    """
    WITH r AS (
      SELECT user_id % 4 AS a,
             (user_id + event_id % 3) % 4 AS b
      FROM events
    ),
    cells AS (SELECT a, b, COUNT(*) AS c FROM r GROUP BY a, b),
    n AS (SELECT SUM(c) AS n FROM cells),
    d AS (SELECT COALESCE(SUM(c), 0) AS s_diag FROM cells WHERE a = b),
    am AS (SELECT a, SUM(c) AS an FROM cells GROUP BY a),
    bm AS (SELECT b, SUM(c) AS bn FROM cells GROUP BY b),
    e AS (
      SELECT COALESCE(SUM(am.an * bm.bn), 0) AS s_e
      FROM am JOIN bm ON bm.b = am.a
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(d.s_diag AS BIGINT) AS s_diag,
           CAST(e.s_e AS BIGINT) AS s_e,
           CAST(n.n * d.s_diag - e.s_e AS BIGINT) AS kappa_num,
           CAST(n.n * n.n - e.s_e AS BIGINT) AS kappa_den,
           CAST(floor(CAST((n.n * d.s_diag - e.s_e) * 10000 AS DOUBLE)
                      / (n.n * n.n - e.s_e)) AS BIGINT) AS kappa_bp
    FROM n, d, e
    """,
    "Cohen's kappa (annotation-QA agreement beyond chance) — "
    "operators/stats.py::cohens_kappa: one confusion-cell aggregation, "
    "marginals re-aggregated from the label-space-sized cell table, "
    "cross-multiplied exact num/den + floor basis points",
)
def q213(spark, sf_dir):
    from kubenetmon_spark.operators.stats import cohens_kappa

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("a"),
        ((F.col("user_id") + F.col("event_id") % 3) % 4).alias("b"),
    )
    return cohens_kappa(ev, "a", "b")


@_register(
    "q214_scorer_eval_pipeline",
    r"""
    WITH d AS (
      SELECT doc_id, source, trim(text) AS t,
             regexp_split_to_array(trim(text), '\s+') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, t, len(words) AS n,
             length(regexp_replace(t, '\s+', '', 'g')) AS total_len,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
               AS n_alpha,
             (CASE WHEN regexp_matches(t, '(^|\s)the(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(t, '(^|\s)a(\s|$)') THEN 1 ELSE 0 END)
               AS n_stop
      FROM d
    ),
    lab AS (
      SELECT doc_id, source, t,
             CASE WHEN n >= 20 AND n <= 100000
                   AND total_len >= 2 * n AND total_len <= 10 * n
                   AND n_alpha * 100 >= n * 80 AND n_stop >= 2
                  THEN 1 ELSE 0 END AS y
      FROM g
    ),
    toks AS (
      SELECT doc_id,
             regexp_split_to_array(t, '\s+')[CAST(i AS INTEGER)] AS tok
      FROM lab, UNNEST(generate_series(1,
             len(regexp_split_to_array(t, '\s+')))) u(i)
    ),
    scored AS (
      SELECT doc_id,
             SUM((CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT)
                  % 4096 % 2001) - 1000) AS logit
      FROM toks WHERE tok != '' GROUP BY doc_id
    ),
    ranked AS (
      SELECT l.source, l.y, s.logit,
             ROW_NUMBER() OVER (PARTITION BY l.source
                                ORDER BY s.logit, l.doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY l.source) AS n
      FROM lab l JOIN scored s USING (doc_id)
    ),
    sc AS (
      SELECT source, y,
             ((rk - 1) * 10000) // GREATEST(n - 1, 1) AS score
      FROM ranked
    ),
    b AS (
      SELECT source, y, score,
             LEAST(CAST(floor(score * 5 / 10000) AS INTEGER), 4) AS bin
      FROM sc
    )
    SELECT source, CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(floor(CAST(SUM(score) * 10000 AS DOUBLE)
                      / (COUNT(*) * 10000)) AS BIGINT) AS mean_score_bp,
           CAST(floor(CAST(SUM(y) * 10000 AS DOUBLE) / COUNT(*))
             AS BIGINT) AS pos_rate_bp
    FROM b GROUP BY source, bin ORDER BY source, bin
    """,
    "quality-scorer EVALUATION pipeline in one plan: hashed linear "
    "scorer (q169) -> per-source exact rank score (percent-rank in "
    "integer bp, partitioned window — never a global sort) -> Gopher "
    "gate as pseudo-labels (q155) -> grouped calibration bins (q212) "
    "— the loop that picks a production quality threshold; every "
    "stage exact-integer, full CTE replay in the oracle",
)
def q214(spark, sf_dir):
    from kubenetmon_spark.operators.stats import calibration_bins
    from kubenetmon_spark.operators.text import (
        with_gopher_rules,
        with_hashed_linear_score,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    g = with_gopher_rules(
        d, min_words=20, min_mean_word_len=2, stopwords=["the", "a"]
    ).withColumn(
        "y",
        (
            F.col("g_word_count_ok")
            & F.col("g_mean_len_ok")
            & F.col("g_alpha_ok")
            & F.col("g_stopword_ok")
        ).cast("int"),
    )
    s = with_hashed_linear_score(g)
    w = Window.partitionBy("source").orderBy("quality_logit", "doc_id")
    wn = Window.partitionBy("source")
    scored = s.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(wn)
    ).withColumn(
        "score",
        F.floor(
            (F.col("_rk") - 1)
            * 10000
            / F.greatest(F.col("_n") - 1, F.lit(1))
        ).cast("long"),
    )
    return calibration_bins(
        scored, "score", "y", n_bins=5, group_cols=["source"]
    ).select(
        "source",
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        "mean_score_bp",
        "pos_rate_bp",
    )


@_register(
    "q215_incremental_dedup",
    """
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' table ') AS lines
      FROM documents
    ),
    l AS (
      SELECT doc_id, source, i - 1 AS pos,
             lines[CAST(i AS INTEGER)] AS line
      FROM d, UNNEST(generate_series(1, len(lines))) u(i)
      WHERE lines[CAST(i AS INTEGER)] != ''
    ),
    seen AS (SELECT DISTINCT line FROM l WHERE doc_id % 2 = 0),
    fresh AS (
      SELECT l.* FROM l
      WHERE doc_id % 2 = 1
        AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.line = l.line)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                   ORDER BY doc_id, pos) AS rk
      FROM fresh
    ),
    tot AS (
      SELECT doc_id, source, COUNT(*) AS n_lines
      FROM l WHERE doc_id % 2 = 1 GROUP BY doc_id, source
    ),
    keptd AS (
      SELECT doc_id,
             COUNT(*) AS n_kept,
             string_agg(line, ' table ' ORDER BY pos) AS t
      FROM r WHERE rk = 1 GROUP BY doc_id
    )
    SELECT tot.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tot.n_lines) AS BIGINT) AS s_lines,
           CAST(SUM(COALESCE(keptd.n_kept, 0)) AS BIGINT) AS s_kept,
           CAST(SUM(length(COALESCE(keptd.t, ''))) AS BIGINT) AS s_len
    FROM tot LEFT JOIN keptd ON keptd.doc_id = tot.doc_id
    GROUP BY tot.source ORDER BY tot.source
    """,
    "INCREMENTAL corpus dedup (today's batch vs the historical line "
    "index — the production shape; sequential increments are provably "
    "equivalent to one whole-corpus pass, pinned in "
    "test_curation.py) — operators/curation.py::dedup_lines_"
    "incremental: even doc_ids play the historical index, odd the new "
    "batch; anti-join and first-occurrence window share the line-text "
    "partitioning",
)
def q215(spark, sf_dir):
    from kubenetmon_spark.operators.curation import (
        dedup_lines_incremental,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    hist = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    _, idx = dedup_lines_incremental(
        hist, None, "doc_id", "text", line_sep=" table "
    )
    out, _ = dedup_lines_incremental(
        new, idx, "doc_id", "text", line_sep=" table "
    )
    joined = out.join(new.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_lines").alias("s_lines"),
            F.sum("n_kept").alias("s_kept"),
            F.sum(F.length("dedup_text")).alias("s_len"),
        )
        .orderBy("source")
    )


def _logreg_oracle_sql(iters: int = 6) -> str:
    """Unrolled full-batch logistic GD (the pagerank-oracle pattern):
    per-row gradient terms micro-rounded BEFORE the integer sum, so
    each iteration is engine-exact."""
    sig = (
        "GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),"
        " 500000 + CAST(floor((w.w0 + w.w1 * e.x1 + w.w2 * e.x2)"
        " / 4.0) AS BIGINT)))"
    )
    parts = [
        """
    WITH e AS (
      SELECT user_id % 5 AS x1, event_id % 3 AS x2,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    nn AS (SELECT COUNT(*) AS n FROM e),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2)"""
    ]
    for k in range(iters):
        parts.append(f"""
    g{k} AS (
      SELECT SUM(e.y * 1000000 - {sig}) AS g0,
             SUM(e.x1 * (e.y * 1000000 - {sig})) AS g1,
             SUM(e.x2 * (e.y * 1000000 - {sig})) AS g2
      FROM e CROSS JOIN w{k} w
    ),
    w{k + 1} AS (
      SELECT w.w0 + CAST(floor(CAST(g.g0 AS DOUBLE) / nn.n) AS BIGINT) AS w0,
             w.w1 + CAST(floor(CAST(g.g1 AS DOUBLE) / nn.n) AS BIGINT) AS w1,
             w.w2 + CAST(floor(CAST(g.g2 AS DOUBLE) / nn.n) AS BIGINT) AS w2
      FROM w{k} w, g{k} g, nn
    )""")
    final = f"""
    SELECT CAST(w0 AS BIGINT) AS w0_micro, CAST(w1 AS BIGINT) AS w1_micro,
           CAST(w2 AS BIGINT) AS w2_micro
    FROM w{iters}"""
    return ",".join(parts) + final


@_register(
    "q216_logistic_regression",
    _logreg_oracle_sql(6),
    "ClickHouse stochasticLogisticRegression's surface as DETERMINISTIC "
    "full-batch GD — operators/stats.py::logistic_regression_gd: "
    "weights in integer micro-units, clamp(1/2+z/4) "
    "HARD-sigmoid surrogate makes every gradient term a pure integer "
    "(a smooth sigmoid diverges at the ulp level and AMPLIFIES through "
    "iterations — measured); one hash agg per iteration, "
    "driver holds only p+1 weights; oracle = the 6 iterations unrolled",
)
def q216(spark, sf_dir):
    from kubenetmon_spark.operators.stats import logistic_regression_gd

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("x1"),
        (F.col("event_id") % 3).alias("x2"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    w = logistic_regression_gd(ev, ["x1", "x2"], "y", iterations=6)
    return spark.createDataFrame(
        [(w[0], w[1], w[2])],
        "w0_micro long, w1_micro long, w2_micro long",
    )


@_register(
    "q217_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id % 2 AS cohort,
             CAST(floor(epoch_us(MIN(ts)) / 86400000000.0) AS BIGINT)
               AS d0,
             CAST(floor(epoch_us(MAX(ts)) / 86400000000.0) AS BIGINT)
               AS d1
      FROM events GROUP BY user_id
    ),
    mx AS (SELECT MAX(d1) AS dmax FROM u),
    dur AS (
      SELECT cohort, d1 - d0 + 1 AS duration,
             CASE WHEN d1 < (SELECT dmax FROM mx) - 3 THEN 1 ELSE 0 END
               AS ev
      FROM u
    ),
    steps AS (
      SELECT cohort, duration, COUNT(*) AS c, SUM(ev) AS d_events
      FROM dur GROUP BY cohort, duration
    ),
    risk AS (
      SELECT cohort, duration, d_events,
             SUM(c) OVER (PARTITION BY cohort ORDER BY duration DESC
                          ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM steps
    ),
    terms AS (
      SELECT cohort, duration, d_events, n_risk,
             CASE WHEN d_events >= n_risk THEN -1000000000000
                  ELSE CAST(round(ln(1.0 - CAST(d_events AS DOUBLE)
                                            / n_risk) * 1000000)
                       AS BIGINT) END AS term
      FROM risk
    )
    SELECT cohort, CAST(duration AS BIGINT) AS duration,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_events AS BIGINT) AS d_events,
           CAST(SUM(term) OVER (PARTITION BY cohort ORDER BY duration
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS s_log_micro
    FROM terms ORDER BY cohort, duration
    """,
    "Kaplan-Meier survival per cohort (user-churn analysis: duration "
    "= active-day span, churn observed when activity stops 3+ days "
    "before the corpus end, else right-censored) — "
    "operators/stats.py::kaplan_meier: micro-rounded log terms make "
    "the cumulative log-survival an exact integer running sum; both "
    "windows share one (cohort, duration) sort",
)
def q217(spark, sf_dir):
    from kubenetmon_spark.operators.stats import kaplan_meier

    day = F.floor(
        F.col("ts").cast("double") / 86400
    ).cast("long")
    u = (
        _t(spark, sf_dir, "events")
        .select("user_id", day.alias("_d"))
        .groupBy("user_id")
        .agg(F.min("_d").alias("d0"), F.max("_d").alias("d1"))
    )
    dmax = u.agg(F.max("d1").alias("dmax"))
    dur = u.crossJoin(F.broadcast(dmax)).select(
        (F.col("user_id") % 2).alias("cohort"),
        (F.col("d1") - F.col("d0") + 1).alias("dur"),
        F.when(F.col("d1") < F.col("dmax") - 3, 1).otherwise(0).alias("ev"),
    )
    km = kaplan_meier(dur, ["cohort"], "dur", "ev")
    return km.select(
        "cohort",
        F.col("duration").cast("long").alias("duration"),
        "n_risk",
        "d_events",
        "s_log_micro",
    ).orderBy("cohort", "duration")


@_register(
    "q218_min_sample_sizes",
    """
    WITH e AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS s
      FROM events
    ),
    a AS (
      SELECT event_type, COUNT(*) AS n, SUM(s) AS npos,
             SUM(x) AS sx, SUM(x * x) AS sxx
      FROM e GROUP BY event_type
    ),
    c AS (
      SELECT event_type, n, npos,
             CAST(npos AS DOUBLE) / n AS p1,
             CAST(npos AS DOUBLE) / n - 0.02 AS p2,
             CAST(sx AS DOUBLE) / n AS mean,
             (sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS var
      FROM a
    ),
    f AS (
      SELECT event_type, n, npos, p1, p2, mean, var,
             (1.9599639845400545
               * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
              + 0.8416212335729143
               * sqrt(p1 * (1 - p1) + p2 * (1 - p2))) / 0.02 AS cv
      FROM c
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n, CAST(npos AS BIGINT) AS npos,
           CASE WHEN p2 > 0 AND p1 < 1
                THEN CAST(ceil(cv * cv) AS BIGINT) END AS n_conversion,
           CASE WHEN n > 1 AND var > 0 AND mean != 0 THEN CAST(ceil(
             2 * 7.848879734349091 * var
             / ((0.01 * mean) * (0.01 * mean))) AS BIGINT)
           END AS n_continuous
    FROM f ORDER BY event_type
    """,
    "A/B experiment planning (minSampleSizeConversion/Continuous, "
    "alpha=.05 power=.8) — operators/stats.py::min_sample_sizes: all "
    "inputs are exact integer sums, the z constants are shared exact "
    "literals, one fixed expression shape -> identical doubles and "
    "ceil landings in both engines",
)
def q218(spark, sf_dir):
    from kubenetmon_spark.operators.stats import min_sample_sizes

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
        (F.col("user_id") % 5 == 0).cast("int").alias("s"),
    )
    return (
        min_sample_sizes(ev, ["event_type"], "x", "s")
        .orderBy("event_type")
    )


@_register(
    "q219_kmeans",
    f"""
    WITH {kmeans_exact_ctes(8, 5, 64, 10_000, "embeddings")}
    SELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n
    FROM a6 WHERE rk = 1
    GROUP BY cl ORDER BY cluster
    """,
    "Lloyd's k-means over the embedding corpus in EXACT integer "
    "arithmetic — operators/clustering.py::kmeans_fit_exact/"
    "kmeans_assign_exact: int-quantized inputs, associative int64 "
    "partial sums (any partitioning, same bits), truncating centroid "
    "re-quantization each round — so five full Lloyd iterations "
    "hash-match a DuckDB oracle that unrolls the same recurrence "
    "(float kmeans_fit stays for callers preferring exact-mean "
    "centroids; its numpy-reference tests are unchanged)",
)
def q219(spark, sf_dir):
    from kubenetmon_spark.operators.clustering import (
        kmeans_assign_exact,
        kmeans_fit_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit_exact(
        emb, k=8, n_iter=5, id_col="vec_id", vec_col="embedding"
    )
    assigned = kmeans_assign_exact(
        emb, centroids, id_col="vec_id", vec_col="embedding"
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .orderBy("cluster")
    )


@_register(
    "q220_line_repetition",
    """
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' table '), l -> l != '')
               AS lines
      FROM documents
    ),
    m AS (
      SELECT source,
             len(lines) AS n,
             len(list_distinct(lines)) AS nd,
             list_sum(list_transform(lines, l -> length(l))) AS tc,
             list_sum(list_transform(list_distinct(lines),
                                     l -> length(l))) AS dc
      FROM d
    ),
    b AS (
      SELECT source,
             CASE WHEN n > 0 THEN (n - nd) * 10000 // n ELSE 0 END
               AS dup_line_bp,
             CASE WHEN tc > 0 THEN (tc - dc) * 10000 // tc ELSE 0 END
               AS dup_char_bp
      FROM m
    )
    SELECT source,
           CAST(SUM(dup_line_bp) AS BIGINT) AS s_line_bp,
           CAST(SUM(dup_char_bp) AS BIGINT) AS s_char_bp,
           CAST(SUM(CASE WHEN dup_line_bp > 2000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_over_gate
    FROM b GROUP BY source ORDER BY source
    """,
    "Gopher duplicate-LINE metrics (Rae et al. 2021 A1.1 — companion "
    "to q64's duplicate n-gram fractions): repeat-line and repeat-"
    "character fractions in basis points — operators/text.py::"
    "with_line_repetition, pure HOFs fused into the scan; lines "
    "synthesized by the ' table ' split (q192 convention)",
)
def q220(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_line_repetition

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    r = with_line_repetition(d, "text", " table ")
    return (
        r.groupBy("source")
        .agg(
            F.sum("dup_line_bp").alias("s_line_bp"),
            F.sum("dup_char_bp").alias("s_char_bp"),
            F.sum(
                F.when(F.col("dup_line_bp") > 2000, 1).otherwise(0)
            ).alias("n_over_gate"),
        )
        .orderBy("source")
    )


@_register(
    "q221_corpus_pipeline_v3",
    r"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' table ') AS lines
      FROM documents
    ),
    k AS (
      SELECT doc_id, source,
             list_filter(lines, l ->
               len(list_filter(string_split(l, ' '), w -> w != '')) >= 3
               AND NOT contains(lower(l), 'slow')) AS kept
      FROM d
    ),
    passed AS (
      SELECT doc_id, source, kept FROM k WHERE len(kept) >= 2
    ),
    l AS (
      SELECT doc_id, source, u.i - 1 AS pos,
             kept[CAST(u.i AS INTEGER)] AS line
      FROM passed, UNNEST(generate_series(1, len(kept))) u(i)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                   ORDER BY doc_id, pos) AS rk
      FROM l
    ),
    rebuilt AS (
      SELECT p.doc_id, p.source,
             coalesce((SELECT string_agg(r2.line, ' table '
                                         ORDER BY r2.pos)
                       FROM r r2
                       WHERE r2.doc_id = p.doc_id AND r2.rk = 1), '')
               AS t
      FROM passed p
    ),
    toks AS (
      SELECT doc_id, source, t,
             len(list_filter(string_split_regex(t, '\s+'), x -> x != ''))
               AS n_tok
      FROM rebuilt
    ),
    gated AS (SELECT * FROM toks WHERE n_tok >= 10),
    final AS (
      SELECT * FROM gated
      WHERE (CAST('0x' || substring(md5('split:' ||
               CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) * 10000)
             // 65536 < 8000
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS s_tokens,
           CAST(SUM(length(t)) AS BIGINT) AS s_len
    FROM final GROUP BY source ORDER BY source
    """,
    "corpus pipeline v3 — the round's curation operators composed in "
    "ONE plan: C4 line cleaning (q192) -> global line dedup with "
    "reassembly (q193) -> token-count gate -> deterministic train "
    "split (q202) -> per-source accounting; the q118/q187/q214 "
    "composition precedent over this round's stages, full CTE replay "
    "in the oracle",
)
def q221(spark, sf_dir):
    from kubenetmon_spark.operators.curation import (
        c4_line_filter,
        dedup_lines,
        split_dataset,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    clean = c4_line_filter(
        d,
        text_col="text",
        line_sep=" table ",
        min_words_per_line=3,
        min_kept_lines=2,
        terminal_chars=None,
        drop_tokens=("slow",),
    ).filter(F.col("c4_n_kept") >= 2)
    cleaned = clean.select(
        "doc_id", "source", F.col("c4_clean").alias("text")
    )
    dd = dedup_lines(cleaned, "doc_id", "text", line_sep=" table ")
    toks = dd.withColumn(
        "n_tok",
        F.size(
            F.filter(
                F.split(F.col("dedup_text"), r"\s+"), lambda x: x != ""
            )
        ),
    ).filter(F.col("n_tok") >= 10)
    final = split_dataset(toks, "doc_id", {"train": 8000, "val": 1000, "test": 1000}).filter(
        F.col("split") == "train"
    )
    joined = final.join(cleaned.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("s_tokens"),
            F.sum(F.length("dedup_text")).alias("s_len"),
        )
        .orderBy("source")
    )


@_register(
    "q222_char_entropy",
    """
    WITH m AS (
      SELECT source,
             CASE WHEN length(text) > 0 THEN
               CAST(round((log2(length(text))
                 - list_sum(list_transform(
                     list_distinct(string_split(text, '')),
                     c -> len(list_filter(string_split(text, ''),
                              x -> x = c))
                          * log2(len(list_filter(string_split(text, ''),
                                     x -> x = c)))))
                   / length(text)) * 1000000) AS BIGINT)
             ELSE 0 END AS h
      FROM documents
    )
    SELECT source,
           CAST(SUM(h) AS BIGINT) AS s_h,
           CAST(MAX(h) AS BIGINT) AS max_h,
           CAST(SUM(CASE WHEN h < 3800000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low
    FROM m GROUP BY source ORDER BY source
    """,
    "per-document character entropy (gibberish / encoded-blob "
    "detector) — operators/text.py::with_char_entropy: alphabet-"
    "bounded HOFs, zero shuffle, micro-bit rounding absorbs both libm "
    "log2 wobble AND the engines' differing distinct-order float-sum "
    "associativity",
)
def q222(spark, sf_dir):
    from kubenetmon_spark.operators.text import with_char_entropy

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    e = with_char_entropy(d)
    return (
        e.groupBy("source")
        .agg(
            F.sum("char_entropy_micro").alias("s_h"),
            F.max("char_entropy_micro").alias("max_h"),
            F.sum(
                F.when(F.col("char_entropy_micro") < 3_800_000, 1).otherwise(0)
            ).alias("n_low"),
        )
        .orderBy("source")
    )


#: 2001:db8::/32 and its aaaa/48, bbbb/48 children — hi64 constants
_V6_BASE = 0x20010DB8 << 32
_V6_AAAA = _V6_BASE + (0xAAAA << 16)
_V6_BBBB = _V6_BASE + (0xBBBB << 16)
_V6_OUT = 0x30000000 << 32
_V6_DIM = [
    ("2001:db8::/32", "aws", "ec2", "us-east-1"),
    ("2001:db8:aaaa::/48", "aws", "s3", "us-east-1"),
]


def _lpm6_oracle_sql() -> str:
    sign = -(2**63)
    ux = lambda c: f"xor({c}, CAST({sign} AS BIGINT))"
    import ipaddress

    vals = []
    for cidr, cloud, svc, region in _V6_DIM:
        net = ipaddress.ip_network(cidr)

        def sp(v):
            hi, lo = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
            return (hi - 2**64 if hi >= 2**63 else hi,
                    lo - 2**64 if lo >= 2**63 else lo)

        sh, sl = sp(int(net.network_address))
        eh, el = sp(int(net.broadcast_address))
        vals.append(
            f"(CAST({sh} AS BIGINT), CAST({sl} AS BIGINT),"
            f" CAST({eh} AS BIGINT), CAST({el} AS BIGINT),"
            f" {net.prefixlen}, '{cloud}', '{svc}', '{region}')"
        )
    pair_lte = (
        lambda ah, al, bh, bl: f"(({ux(ah)} < {ux(bh)}) OR"
        f" ({ah} = {bh} AND {ux(al)} <= {ux(bl)}))"
    )
    return f"""
    WITH dim(net_hi, net_lo, end_hi, end_lo, prefix_len, cloud,
             service, region) AS (VALUES {", ".join(vals)}),
    f AS (
      SELECT event_id,
             CASE event_id % 3
               WHEN 0 THEN CAST({_V6_AAAA} AS BIGINT)
               WHEN 1 THEN CAST({_V6_BBBB} AS BIGINT)
               ELSE CAST({_V6_OUT} AS BIGINT) END AS ip_hi,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ip_lo
      FROM events
    ),
    j AS (
      SELECT f.event_id, f.ip_lo, d.cloud, d.service, d.prefix_len,
             ROW_NUMBER() OVER (PARTITION BY f.event_id
                                ORDER BY d.prefix_len DESC,
                                         {ux("d.net_hi")},
                                         {ux("d.net_lo")}) AS rk
      FROM f LEFT JOIN dim d
        ON {pair_lte("d.net_hi", "d.net_lo", "f.ip_hi", "f.ip_lo")}
       AND {pair_lte("f.ip_hi", "f.ip_lo", "d.end_hi", "d.end_lo")}
    )
    SELECT COALESCE(cloud, '') AS cloud, COALESCE(service, '') AS svc,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ip_lo) AS BIGINT) AS s_lo
    FROM j WHERE rk = 1
    GROUP BY cloud, service ORDER BY cloud, svc
    """


@_register(
    "q223_lpm6",
    _lpm6_oracle_sql(),
    "IPv6 longest-prefix match — the reference DROPS v6 flows "
    "(labeler.go:243-247); this engine meters them: 128-bit addresses "
    "as signed int64 pairs, unsigned order via the xor-sign-bit trick, "
    "broadcast range join + per-row longest-prefix pick — "
    "operators/lpm.py::lpm_lookup6 / prefixes6_from_cidrs (nested-"
    "prefix and top-bit cases pinned in test_functions.py)",
)
def q223(spark, sf_dir):
    from kubenetmon_spark.operators.lpm import (
        lpm_lookup6,
        prefixes6_from_cidrs,
    )

    dim = prefixes6_from_cidrs(spark, _V6_DIM)
    f = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(_V6_AAAA))
        .when(F.col("event_id") % 3 == 1, F.lit(_V6_BBBB))
        .otherwise(F.lit(_V6_OUT))
        .cast("long")
        .alias("ip_hi"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("ip_lo"),
    )
    out = lpm_lookup6(f, dim)
    return (
        out.groupBy(
            F.coalesce(F.col("r_cloud"), F.lit("")).alias("cloud"),
            F.coalesce(F.col("r_service"), F.lit("")).alias("svc"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("ip_lo").alias("s_lo"),
        )
        .orderBy("cloud", "svc")
    )


def _lpm6_classify_oracle_sql() -> str:
    sign = -(2**63)
    ux = lambda c: f"xor({c}, CAST({sign} AS BIGINT))"
    pair_lte = (
        lambda ah, al, bh, bl: f"(({ux(ah)} < {ux(bh)}) OR"
        f" ({ah} = {bh} AND {ux(al)} <= {ux(bl)}))"
    )
    import ipaddress

    vals = []
    for cidr, cloud, svc, region in _V6_DIM:
        net = ipaddress.ip_network(cidr)

        def sp(v):
            hi, lo = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
            return (hi - 2**64 if hi >= 2**63 else hi,
                    lo - 2**64 if lo >= 2**63 else lo)

        sh, sl = sp(int(net.network_address))
        eh, el = sp(int(net.broadcast_address))
        vals.append(
            f"(CAST({sh} AS BIGINT), CAST({sl} AS BIGINT),"
            f" CAST({eh} AS BIGINT), CAST({el} AS BIGINT),"
            f" {net.prefixlen}, '{cloud}', '{svc}', '{region}')"
        )
    ula_hi = 0xFC00 << 48
    if ula_hi >= 2**63:
        ula_hi -= 2**64
    return f"""
    WITH dim(net_hi, net_lo, end_hi, end_lo, prefix_len, cloud,
             service, region) AS (VALUES {", ".join(vals)}),
    f AS (
      SELECT event_id,
             CASE event_id % 4
               WHEN 0 THEN CAST({_V6_AAAA} AS BIGINT)
               WHEN 1 THEN CAST({_V6_BBBB} AS BIGINT)
               WHEN 2 THEN CAST({_V6_OUT} AS BIGINT)
               ELSE CAST({ula_hi} AS BIGINT) END AS ip_hi,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ip_lo,
             CASE WHEN event_id % 2 = 0 THEN 'us-east-1'
                  ELSE 'eu-west-1' END AS local_region
      FROM events
    ),
    j AS (
      SELECT f.*, d.cloud, d.region,
             ROW_NUMBER() OVER (PARTITION BY f.event_id
                                ORDER BY d.prefix_len DESC,
                                         {ux("d.net_hi")},
                                         {ux("d.net_lo")}) AS rk
      FROM f LEFT JOIN dim d
        ON {pair_lte("d.net_hi", "d.net_lo", "f.ip_hi", "f.ip_lo")}
       AND {pair_lte("f.ip_hi", "f.ip_lo", "d.end_hi", "d.end_lo")}
    ),
    c AS (
      SELECT CASE
               WHEN xor(ip_hi, CAST({sign} AS BIGINT))
                    // 144115188075855872 = xor(CAST({ula_hi} AS BIGINT),
                    CAST({sign} AS BIGINT)) // 144115188075855872
                 THEN 'INTRA_VPC'
               WHEN cloud IS NULL THEN 'PUBLIC_INTERNET'
               WHEN region = local_region THEN 'INTRA_REGION'
               ELSE 'INTER_REGION' END AS connection_class
      FROM j WHERE rk = 1
    )
    SELECT connection_class, CAST(COUNT(*) AS BIGINT) AS n
    FROM c GROUP BY connection_class ORDER BY connection_class
    """


@_register(
    "q224_lpm6_classify",
    _lpm6_classify_oracle_sql(),
    "end-to-end IPv6 connection classification — the J6/J7 CASE "
    "(private short-circuit -> LPM -> same/other-region/public) over "
    "the v6 metering path (q223's lpm_lookup6 + "
    "functions/ip.py::is_private_ipv6_pair); ULA addresses classify "
    "INTRA_VPC without touching the prefix join, exactly like the v4 "
    "labeler's work-avoidance branch (remote.go:131-140)",
)
def q224(spark, sf_dir):
    from kubenetmon_spark.functions.ip import is_private_ipv6_pair
    from kubenetmon_spark.operators.lpm import (
        lpm_lookup6,
        prefixes6_from_cidrs,
    )

    ula_hi = 0xFC00 << 48
    if ula_hi >= 2**63:
        ula_hi -= 2**64
    dim = prefixes6_from_cidrs(spark, _V6_DIM)
    f = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 4 == 0, F.lit(_V6_AAAA))
        .when(F.col("event_id") % 4 == 1, F.lit(_V6_BBBB))
        .when(F.col("event_id") % 4 == 2, F.lit(_V6_OUT))
        .otherwise(F.lit(ula_hi))
        .cast("long")
        .alias("ip_hi"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("ip_lo"),
        F.when(F.col("event_id") % 2 == 0, "us-east-1")
        .otherwise("eu-west-1")
        .alias("local_region"),
    )
    looked = lpm_lookup6(f, dim)
    cls = F.when(
        is_private_ipv6_pair(F.col("ip_hi"), F.col("ip_lo")),
        "INTRA_VPC",
    ).otherwise(
        F.when(F.col("r_cloud").isNull(), "PUBLIC_INTERNET").otherwise(
            F.when(
                F.col("r_region") == F.col("local_region"),
                "INTRA_REGION",
            ).otherwise("INTER_REGION")
        )
    )
    return (
        looked.withColumn("connection_class", cls)
        .groupBy("connection_class")
        .agg(F.count("*").alias("n"))
        .orderBy("connection_class")
    )


@_register(
    "q225_percent_change",
    """
    WITH d AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')
               AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, day, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS prev_wk
      FROM d
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN prev > 0
                THEN floor(CAST((n - prev) * 10000 AS DOUBLE) / prev)
                END AS BIGINT) AS dod_bp,
           CAST(CASE WHEN prev_wk > 0
                THEN floor(CAST((n - prev_wk) * 10000 AS DOUBLE)
                           / prev_wk) END AS BIGINT) AS wow_bp
    FROM c ORDER BY event_type, day
    """,
    "day-over-day / week-over-week percent change (the dashboard "
    "staple over the minute/day rollups): two lag offsets over ONE "
    "(series, day) sort, integer-bp floor division, null for missing "
    "baselines — pure native windows, listed for cookbook parity",
)
def q225(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("n").over(w)
    prev_wk = F.lag("n", 7).over(w)

    def bp(cur, base):
        return F.when(
            base > 0,
            F.floor((cur - base) * 10000 / base),
        ).cast("long")

    return d.select(
        "event_type",
        "day",
        "n",
        bp(F.col("n"), prev).alias("dod_bp"),
        bp(F.col("n"), prev_wk).alias("wow_bp"),
    ).orderBy("event_type", "day")


@_register(
    "q226_funnel_durations",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS t
      FROM events
    ),
    chains AS (
      SELECT a.user_id, MIN(c.t - a.t) AS min_s
      FROM e a
      JOIN e b ON a.user_id = b.user_id
      JOIN e c ON a.user_id = c.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND c.event_type = 'purchase'
        AND b.t > a.t AND c.t > b.t AND c.t - a.t <= 21600
      GROUP BY a.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(SUM(min_s) AS BIGINT) AS s_min_s,
           CAST(MIN(min_s) AS BIGINT) AS fastest_s,
           CAST(MAX(min_s) AS BIGINT) AS slowest_s
    FROM chains
    """,
    "funnel TIME-TO-CONVERT: per converted user the exact minimum "
    "view->click->purchase duration within the 6h window — "
    "operators/funnel.py::window_funnel_durations (the cascade's max-"
    "anchor propagation gives min duration with NO self-join; the "
    "oracle states the same min over the declarative 3-way chain "
    "join); one Exchange+Sort+Window, same plan as q84",
)
def q226(spark, sf_dir):
    from kubenetmon_spark.operators.funnel import window_funnel_durations

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    d = window_funnel_durations(
        ev, ["view", "click", "purchase"], window_seconds=21600
    ).filter(F.col("min_convert_us").isNotNull())
    sec = (F.col("min_convert_us") / 1_000_000).cast("long")
    return d.agg(
        F.count("*").alias("n_converted"),
        F.sum(sec).alias("s_min_s"),
        F.min(sec).alias("fastest_s"),
        F.max(sec).alias("slowest_s"),
    )


@_register(
    "q227_last_touch_attribution",
    """
    WITH p AS (
      SELECT event_id, user_id, epoch(date_trunc('second', ts)) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT user_id, event_type, event_id AS m_id,
             epoch(date_trunc('second', ts)) AS t
      FROM events WHERE event_type IN ('view', 'click')
    ),
    att AS (
      SELECT p.event_id,
             (SELECT m.event_type FROM m
              WHERE m.user_id = p.user_id AND m.t <= p.t
                AND p.t - m.t <= 86400
              ORDER BY m.t DESC, m.m_id DESC LIMIT 1) AS channel
      FROM p
    )
    SELECT COALESCE(channel, 'unattributed') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM att GROUP BY channel ORDER BY channel
    """,
    "last-touch attribution (marketing-analytics staple): each "
    "purchase credits the most recent view/click within 24h — one "
    "asof join (operators/asof.py: union+window single-shuffle form, "
    "NO per-purchase subquery), ties broken deterministically by "
    "event id; unattributed purchases stay visible",
)
def q227(spark, sf_dir):
    from kubenetmon_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    m = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "ts",
            F.col("event_type").alias("channel"),
            F.col("event_id").alias("m_id"),
        )
        # deterministic tie-break at equal ts: keep the highest m_id
        # (the asof picks the LAST right row at or before left.ts in
        # (ts, input-order); make that order explicit)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(
                    F.desc("m_id")
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    j = asof_join(
        p,
        m,
        on=["user_id"],
        ts_col="ts",
        right_cols=["channel"],
        tolerance_seconds=86400,
    )
    return (
        j.groupBy(
            F.coalesce(F.col("channel"), F.lit("unattributed")).alias(
                "channel"
            )
        )
        .agg(F.count("*").alias("n"))
        .orderBy("channel")
    )


@_register(
    "q228_linear_attribution",
    """
    WITH p AS (
      SELECT event_id AS p_id, user_id,
             epoch(date_trunc('second', ts)) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT user_id, event_type AS channel, event_id AS m_id,
             epoch(date_trunc('second', ts)) AS t
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touches AS (
      SELECT p.p_id, m.channel, m.m_id, m.t,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY m.t DESC, m.m_id DESC) AS rk
      FROM p JOIN m ON m.user_id = p.user_id
       AND m.t <= p.t AND p.t - m.t <= 86400
    ),
    credit AS (
      SELECT channel,
             1000 // n_touch
               + CASE WHEN rk = 1 THEN 1000 % n_touch ELSE 0 END
               AS c_milli
      FROM touches
    )
    SELECT channel,
           CAST(SUM(c_milli) AS BIGINT) AS credit_milli,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM credit GROUP BY channel ORDER BY channel
    """,
    "linear multi-touch attribution: every marketing touch within 24h "
    "of a purchase shares 1000 milli-credits EXACTLY — floor share "
    "each, remainder to the last touch (deterministic, credits sum to "
    "1000*n_purchases by construction, no float leakage); join volume "
    "bounded by touches-per-purchase, window shares the join key",
)
def q228(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    m = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("m_id"),
        F.col("ts").alias("m_ts"),
    )
    touches = p.join(m, "user_id").filter(
        (F.col("m_ts") <= F.col("p_ts"))
        & (
            F.col("p_ts").cast("long") - F.col("m_ts").cast("long")
            <= 86400
        )
    )
    wp = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(
        F.desc("m_ts"), F.desc("m_id")
    )
    credited = touches.withColumn(
        "n_touch", F.count("*").over(wp)
    ).withColumn("rk", F.row_number().over(wr))
    c = F.expr("1000 div n_touch") + F.when(
        F.col("rk") == 1, F.expr("1000 % n_touch")
    ).otherwise(0)
    return (
        credited.withColumn("c_milli", c)
        .groupBy("channel")
        .agg(
            F.sum("c_milli").alias("credit_milli"),
            F.count("*").alias("n_touches"),
        )
        .orderBy("channel")
    )


@_register(
    "q229_cohort_retention",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) // 7
               AS wk
      FROM events
    ),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM ud GROUP BY user_id),
    m AS (
      SELECT c.cohort, ud.wk - c.cohort AS offset_wk,
             COUNT(DISTINCT ud.user_id) AS n_active
      FROM ud JOIN c ON c.user_id = ud.user_id
      GROUP BY c.cohort, ud.wk - c.cohort
    ),
    base AS (SELECT cohort, COUNT(*) AS n_cohort FROM c GROUP BY cohort)
    SELECT m.cohort, CAST(m.offset_wk AS BIGINT) AS offset_wk,
           CAST(m.n_active AS BIGINT) AS n_active,
           CAST(b.n_cohort AS BIGINT) AS n_cohort,
           CAST(m.n_active * 10000 // b.n_cohort AS BIGINT)
             AS retained_bp
    FROM m JOIN base b ON b.cohort = m.cohort
    ORDER BY m.cohort, offset_wk
    """,
    "cohort retention triangle (signup-week x weeks-since retention — "
    "THE product-analytics query): distinct (user, week) activity, "
    "min-week cohort assignment, per-(cohort, offset) distinct actives "
    "over the cohort base in exact basis points; the user-week "
    "projection shuffles once and both aggregations reuse its key",
)
def q229(spark, sf_dir):
    wk = F.expr(
        "cast(floor(cast(ts as double) / 86400) as bigint) div 7"
    )
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", wk.alias("wk"))
        .distinct()
    )
    c = ud.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    m = (
        ud.join(c, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("offset_wk"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    base = c.groupBy("cohort").agg(F.count("*").alias("n_cohort"))
    return (
        m.join(base, "cohort")
        .select(
            "cohort",
            F.col("offset_wk").cast("long").alias("offset_wk"),
            "n_active",
            "n_cohort",
            F.expr("n_active * 10000 div n_cohort").alias("retained_bp"),
        )
        .orderBy("cohort", "offset_wk")
    )


@_register(
    "q230_dau_mau_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
    mau AS (
      SELECT days.d, COUNT(DISTINCT ud.user_id) AS mau
      FROM days JOIN ud ON ud.d BETWEEN days.d - 29 AND days.d
      GROUP BY days.d
    )
    SELECT dau.d AS day_num,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(dau.dau * 10000 // mau.mau AS BIGINT) AS stickiness_bp
    FROM dau JOIN mau ON mau.d = dau.d
    ORDER BY day_num
    """,
    "DAU/MAU stickiness per day: rolling 30-day distinct actives via "
    "a day-grid range join over the DISTINCT (user, day) projection — "
    "rolling COUNT DISTINCT cannot ride a window frame, so the grid "
    "join (volume = user-days x <=30) is the scale-correct shape; "
    "exact basis points",
)
def q230(spark, sf_dir):
    d = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", d.alias("d"))
        .distinct()
    )
    days = ud.select("d").distinct().withColumnRenamed("d", "day")
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    mau = (
        days.join(
            ud,
            (F.col("d") >= F.col("day") - 29) & (F.col("d") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau["d"] == mau["day"])
        .select(
            F.col("d").alias("day_num"),
            "dau",
            "mau",
            F.expr("dau * 10000 div mau").alias("stickiness_bp"),
        )
        .orderBy("day_num")
    )


@_register(
    "q231_entity_resolution",
    """
    WITH RECURSIVE names AS MATERIALIZED (
      -- exact-duplicate texts contract FIRST, exactly like the engine's
      -- r02 rewrite: identical names are trivially the same entity
      -- (pairwise distance 0), so the comparator and the recursive
      -- closure run over DISTINCT names — without this the closure is
      -- quadratic in duplication and the sf0.1 oracle (300x-duplicated
      -- names) never finishes
      SELECT p_name, split_part(p_name, ' ', 2) AS typ,
             MIN(p_partkey) AS rep, COUNT(*) AS n,
             SUM(p_partkey) AS s
      FROM part GROUP BY p_name
    ),
    pairs AS (
      SELECT a.rep AS id_1, b.rep AS id_2
      FROM names a JOIN names b
        ON a.typ = b.typ AND a.rep < b.rep
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION SELECT id_2, id_1 FROM pairs
    ),
    gnodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM gnodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS canonical FROM reach GROUP BY node),
    labeled AS (
      SELECT names.n, names.s,
             COALESCE(comp.canonical, names.rep) AS canonical
      FROM names LEFT JOIN comp ON comp.node = names.rep
    )
    SELECT CAST(canonical AS BIGINT) AS canonical,
           CAST(SUM(n) AS BIGINT) AS n_records,
           CAST(SUM(s) AS BIGINT) AS member_sum
    FROM labeled GROUP BY canonical
    HAVING SUM(n) >= 3
    ORDER BY canonical
    """,
    "entity resolution end to end in ONE plan: blocked edit-distance "
    "linkage (q88's length-band + bounded levenshtein) -> connected-"
    "component identity clusters -> canonical id (min member) — the "
    "q201 composition for RECORD identity instead of media; clusters "
    "of 3+ records reported; oracle contracts exact-duplicate names "
    "then closes the distinct-name graph recursively (bit-equal to the "
    "row-level closure: contracting distance-0 cliques preserves "
    "components, min-rep per name preserves the canonical id)",
)
def q231(spark, sf_dir):
    from kubenetmon_spark.operators.fuzzy import entity_clusters

    p = _t(spark, sf_dir, "part")
    # exact-duplicate texts collapse BEFORE the comparator and the
    # connected components (entity_clusters docstring) — the pair space
    # and the iterative graph are distinct-name sized, invariant to how
    # duplicated the corpus is; row-level clusters re-expand exactly
    clusters = entity_clusters(
        p,
        id_col="p_partkey",
        text_col="p_name",
        block_col=F.element_at(F.split("p_name", " "), 2),
        max_distance=2,
        length_bucket=8,
    )
    return (
        clusters.select(
            F.col("cluster_rep").alias("canonical"),
            "n_records",
            "member_sum",
        )
        .filter(F.col("n_records") >= 3)
        .orderBy("canonical")
    )


@_register(
    "q232_cohort_ltv",
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) // 7
               AS wk,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
    base AS (SELECT cohort, COUNT(*) AS n_users FROM c GROUP BY cohort),
    rev AS (
      SELECT c.cohort, e.wk - c.cohort AS offset_wk,
             SUM(e.cents) AS cents
      FROM e JOIN c ON c.user_id = e.user_id
      GROUP BY c.cohort, e.wk - c.cohort
    ),
    cum AS (
      SELECT cohort, offset_wk, cents,
             SUM(cents) OVER (PARTITION BY cohort ORDER BY offset_wk
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM rev
    )
    SELECT cum.cohort, CAST(offset_wk AS BIGINT) AS offset_wk,
           CAST(cents AS BIGINT) AS cents,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           CAST(cum_cents * 1000 // b.n_users AS BIGINT)
             AS ltv_milli_per_user
    FROM cum JOIN base b ON b.cohort = cum.cohort
    ORDER BY cum.cohort, offset_wk
    """,
    "cohort LTV curve (cumulative purchase revenue per signup-week "
    "cohort, per-capita in exact milli-cents) — q229's triangle with "
    "money semantics: one fact shuffle for the (cohort, offset) "
    "revenue matrix, the cumulative window runs over the tiny matrix",
)
def q232(spark, sf_dir):
    wk = F.expr(
        "cast(floor(cast(ts as double) / 86400) as bigint) div 7"
    )
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        wk.alias("wk"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    c = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    base = c.groupBy("cohort").agg(F.count("*").alias("n_users"))
    rev = (
        e.join(c, "user_id")
        .groupBy(
            "cohort", (F.col("wk") - F.col("cohort")).alias("offset_wk")
        )
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("cents").over(w))
    return (
        cum.join(base, "cohort")
        .select(
            "cohort",
            F.col("offset_wk").cast("long").alias("offset_wk"),
            "cents",
            "cum_cents",
            F.expr("cum_cents * 1000 div n_users").alias(
                "ltv_milli_per_user"
            ),
        )
        .orderBy("cohort", "offset_wk")
    )


@_register(
    "q233_ship_lag_sla",
    """
    WITH lag_t AS (
      SELECT o.o_orderpriority AS pri,
             datediff('day', o.o_orderdate, l.l_shipdate) AS lag_d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT pri, lag_d,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY lag_d) AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM lag_t
    )
    SELECT pri,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                              + 1 THEN lag_d END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT)
                              + 1 THEN lag_d END) AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS BIGINT)
                              + 1 THEN lag_d END) AS BIGINT) AS p99,
           CAST(SUM(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) * 10000
                // MAX(n) AS BIGINT) AS within_sla_bp
    FROM r GROUP BY pri ORDER BY pri
    """,
    "order-to-ship SLA report: exact p50/p90/p99 lag days per order "
    "priority (quantileExactLow positions, q144 machinery) + fraction "
    "within the 30-day SLA in exact bp — the operational-latency "
    "report every metering deployment runs; one broadcast join, one "
    "sorted pass",
)
def q233(spark, sf_dir):
    from kubenetmon_spark.operators.stats import quantile_definitions

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag_t = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff("l_shipdate", "o_orderdate").alias("lag_d"),
    )
    q = quantile_definitions(
        lag_t, ["pri"], "lag_d", levels=(0.5, 0.9, 0.99)
    )
    sla = lag_t.groupBy("pri").agg(
        F.sum(F.when(F.col("lag_d") <= 30, 1).otherwise(0)).alias("_in"),
        F.count("*").alias("_n"),
    )
    return (
        q.join(sla, "pri")
        .select(
            "pri",
            F.col("n").cast("long").alias("n"),
            F.col("p50_low").cast("long").alias("p50"),
            F.col("p90_low").cast("long").alias("p90"),
            F.col("p99_low").cast("long").alias("p99"),
            F.expr("_in * 10000 div _n").alias("within_sla_bp"),
        )
        .orderBy("pri")
    )


@_register(
    "q234_abc_analysis",
    """
    WITH rev AS (
      SELECT p.p_brand AS brand,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    tot AS (SELECT SUM(cents) AS t FROM rev),
    c AS (
      SELECT brand, cents,
             SUM(cents) OVER (ORDER BY cents DESC, brand
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    ),
    cls AS (
      SELECT brand, cents,
             CASE WHEN cum * 100 <= t * 80 THEN 'A'
                  WHEN cum * 100 <= t * 95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM c, tot
    )
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM cls GROUP BY abc ORDER BY abc
    """,
    "ABC / Pareto inventory classification (brands by cumulative "
    "revenue share, 80/95 cut points via the cross-multiplied integer "
    "rule cum*100 <= total*p): the cumulative window runs over the "
    "BRAND-cardinality rollup, never facts; deterministic tie-break "
    "on the sort",
)
def q234(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("cents").alias("cents"))
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    w = (
        Window.orderBy(F.desc("cents"), "brand")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = rev.withColumn("cum", F.sum("cents").over(w)).crossJoin(
        F.broadcast(tot)
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
    )
    return (
        c.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count("*").alias("n_brands"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("abc")
    )


@_register(
    "q235_basket_affinity",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nn AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob),
    cnt AS (SELECT brand, COUNT(*) AS n FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS b1, b.brand AS b2, COUNT(*) AS n_ab
      FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT p.b1, p.b2,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(p.n_ab * nn.n_orders * 10000
                // (ca.n * cb.n) AS BIGINT) AS lift_bp
    FROM pairs p
    JOIN cnt ca ON ca.brand = p.b1
    JOIN cnt cb ON cb.brand = p.b2
    CROSS JOIN nn
    WHERE p.n_ab >= 5
    ORDER BY p.b1, p.b2
    """,
    "market-basket affinity: brand co-occurrence within orders with "
    "LIFT = P(ab)/(P(a)P(b)) as the exact integer cross-multiply "
    "n_ab*N*10000 // (n_a*n_b) — the self-join is bounded by "
    "brands-per-order^2 (distinct projection first), counts broadcast "
    "back; min-support 5 keeps noise out",
)
def q235(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        # materialize once: the (order, brand) frame feeds FOUR
        # consumers (the N count action plus cnt and both self-join
        # sides) and would otherwise re-run the lineitem join+distinct
        # for each (r7)
        .localCheckpoint(eager=True)
    )
    n_orders = ob.select("ok").distinct().count()
    cnt = ob.groupBy("brand").agg(F.count("*").alias("n"))
    a = ob.select(F.col("ok"), F.col("brand").alias("b1"))
    b = ob.select(F.col("ok").alias("ok2"), F.col("brand").alias("b2"))
    pairs = (
        a.join(b, (a["ok"] == b["ok2"]) & (a["b1"] < b["b2"]))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ca = cnt.select(F.col("brand").alias("b1"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("brand").alias("b2"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "b1")
        .join(F.broadcast(cb), "b2")
        .select(
            "b1",
            "b2",
            "n_ab",
            F.expr(
                f"n_ab * {n_orders}L * 10000 div (n_a * n_b)"
            ).alias("lift_bp"),
        )
        .orderBy("b1", "b2")
    )


@_register(
    "q236_supplier_hhi",
    """
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    h AS (
      SELECT nation,
             SUM(cents * cents) AS ss,
             SUM(cents) AS t,
             COUNT(*) AS n_suppliers
      FROM rev GROUP BY nation
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(t AS BIGINT) AS cents,
           CAST(ss * 10000 // (t * t) AS BIGINT) AS hhi_bp
    FROM h ORDER BY nation
    """,
    "supplier concentration per nation (Herfindahl-Hirschman index in "
    "exact basis points): share-square sums in HUGEINT/DECIMAL(38) "
    "(cents^2 overflows int64 — the q196 precedent), one rollup + one "
    "per-nation reduce; HHI_bp = sum(s_i^2)*10000 // T^2",
)
def q236(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(F.sum("cents").alias("cents"))
    )
    d38 = "decimal(38,0)"
    h = rev.groupBy("nation").agg(
        F.sum(F.col("cents").cast(d38) * F.col("cents").cast(d38)).alias(
            "ss"
        ),
        F.sum("cents").alias("t"),
        F.count("*").alias("n_suppliers"),
    )
    hhi = (
        (F.col("ss") * 10000)
        / (F.col("t").cast(d38) * F.col("t").cast(d38))
    )
    return h.select(
        F.col("nation").cast("long").alias("nation"),
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.col("t").cast("long").alias("cents"),
        F.floor(hhi).cast("long").alias("hhi_bp"),
    ).orderBy("nation")


@_register(
    "q237_new_vs_returning",
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    first_d AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY user_id),
    tagged AS (
      SELECT e.d, e.cents,
             CASE WHEN e.d = f.d0 THEN 'new' ELSE 'returning' END
               AS cohort
      FROM e JOIN first_d f ON f.user_id = e.user_id
    )
    SELECT d AS day_num, cohort,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM tagged GROUP BY d, cohort ORDER BY d, cohort
    """,
    "new-vs-returning split per day (growth accounting): first-touch "
    "day per user broadcast back onto the event stream; one fact "
    "shuffle for the user min, the tag is a join + CASE",
)
def q237(spark, sf_dir):
    d = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        d.alias("d"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    f0 = e.groupBy("user_id").agg(F.min("d").alias("d0"))
    tagged = e.join(f0, "user_id").withColumn(
        "cohort",
        F.when(F.col("d") == F.col("d0"), "new").otherwise("returning"),
    )
    return (
        tagged.groupBy(F.col("d").alias("day_num"), "cohort")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("day_num", "cohort")
    )


@_register(
    "q238_activity_gini",
    """
    WITH u AS (
      SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
    ),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i,
             COUNT(*) OVER () AS n, SUM(x) OVER () AS t
      FROM u
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(MAX(t) AS BIGINT) AS total,
           CAST(floor(CAST(10000 * (2 * SUM(i * x) - (MAX(n) + 1)
                                    * MAX(t)) AS DOUBLE)
                      / (MAX(n) * MAX(t))) AS BIGINT) AS gini_bp
    FROM r
    """,
    "Gini coefficient of per-user activity (the power-user inequality "
    "curve): exact integer rank-weighted sums, one global sort over "
    "USER-cardinality rows (never events), cross-multiplied closed "
    "form G = (2*Sum(i*x_i) - (n+1)*T) / (n*T) floored to bp",
)
def q238(spark, sf_dir):
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("x"))
    )
    w = Window.orderBy("x", "user_id")
    r = u.withColumn("i", F.row_number().over(w))
    agg = r.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("t").cast("long").alias("total"),
        F.floor(
            (
                10000
                * (2 * F.col("six") - (F.col("n") + 1) * F.col("t"))
            ).cast("double")
            / (F.col("n") * F.col("t"))
        )
        .cast("long")
        .alias("gini_bp"),
    )


@_register(
    "q239_dup_cluster_sizes",
    """
    WITH g AS (
      SELECT md5(trim(text)) AS h, COUNT(*) AS sz
      FROM documents GROUP BY md5(trim(text))
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM g GROUP BY sz ORDER BY sz
    """,
    "exact-duplicate cluster-size distribution (the corpus-health "
    "histogram behind dedup planning: how much is singleton vs "
    "boilerplate families) — two hash aggs, second over "
    "distinct-content cardinality",
)
def q239(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy(F.md5(F.trim(F.col("text"))).alias("h")).agg(
        F.count("*").alias("sz")
    )
    return (
        g.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@_register(
    "q240_source_vocab_overlap",
    r"""
    WITH st AS (
      SELECT DISTINCT source, unnest(regexp_split_to_array(trim(text),
                                     '\s+')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    pairs AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.s1, p.s2,
           CAST(p.inter AS BIGINT) AS inter,
           CAST(p.inter * 10000 // (na.n + nb.n - p.inter) AS BIGINT)
             AS jaccard_bp
    FROM pairs p
    JOIN sizes na ON na.source = p.s1
    JOIN sizes nb ON nb.source = p.s2
    WHERE p.inter * 10000 // (na.n + nb.n - p.inter) >= 5000
    ORDER BY p.s1, p.s2
    """,
    "source vocabulary-overlap matrix (mixture diagnostics: which "
    "sources are near-clones of each other at the vocab level): "
    "distinct (source, token) projection, token-keyed pair join, "
    "exact Jaccard bp with a report threshold",
)
def q240(spark, sf_dir):
    st = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok"),
        )
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("s1"), "tok")
    b = st.select(F.col("source").alias("s2"), F.col("tok").alias("tok2"))
    pairs = (
        a.join(b, (a["tok"] == b["tok2"]) & (a["s1"] < b["s2"]))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n_b"))
    j = F.expr("inter * 10000 div (n_a + n_b - inter)")
    return (
        pairs.join(F.broadcast(na), "s1")
        .join(F.broadcast(nb), "s2")
        .withColumn("jaccard_bp", j)
        .filter(F.col("jaccard_bp") >= 5000)
        .select("s1", "s2", "inter", "jaccard_bp")
        .orderBy("s1", "s2")
    )


@_register(
    "q241_markov_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, event_type AS nxt, COUNT(*) AS n
      FROM o WHERE prev IS NOT NULL GROUP BY prev, event_type
    ),
    tot AS (SELECT prev, SUM(n) AS row_n FROM t GROUP BY prev)
    SELECT t.prev, t.nxt,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.n * 10000 // tot.row_n AS BIGINT) AS p_bp
    FROM t JOIN tot ON tot.prev = t.prev
    ORDER BY t.prev, t.nxt
    """,
    "first-order Markov transition matrix between event types "
    "(behavior modeling / next-action priors): one lag window over "
    "the (user, ts) sort, transition counts + exact row-normalized "
    "basis points; matrix cardinality = |types|^2",
)
def q241(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = _t(spark, sf_dir, "events").withColumn(
        "prev", F.lag("event_type").over(w)
    )
    t = (
        o.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count("*").alias("n"))
    )
    tot = t.groupBy("prev").agg(F.sum("n").alias("row_n"))
    return (
        t.join(tot, "prev")
        .select(
            "prev",
            "nxt",
            "n",
            F.expr("n * 10000 div row_n").alias("p_bp"),
        )
        .orderBy("prev", "nxt")
    )


@_register(
    "q242_session_depth",
    """
    WITH o AS (
      SELECT user_id, epoch(date_trunc('second', ts)) AS t, event_id
      FROM events
    ),
    g AS (
      SELECT user_id, t, event_id,
             CASE WHEN t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END
               AS brk
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    s AS (
      SELECT user_id,
             1 + SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    d AS (
      SELECT user_id, session_id, COUNT(*) AS depth
      FROM s GROUP BY user_id, session_id
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM d GROUP BY depth ORDER BY depth
    """,
    "session-depth distribution (events per 30-min-gap session) — "
    "operators/sessions.py::sessionize composed into the histogram "
    "every engagement dashboard shows; gap-detect lag and session "
    "numbering share ONE (user, ts) sort",
)
def q242(spark, sf_dir):
    from kubenetmon_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    s = sessionize(
        ev, ["user_id"], gap_seconds=1800, order_cols=["event_id"]
    )
    d = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("depth")
    )
    return (
        d.groupBy("depth")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("depth")
    )


@_register(
    "q243_rfm_segments",
    """
    WITH u AS (
      SELECT user_id,
             MAX(CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT))
               AS last_d,
             COUNT(*) AS freq,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 ELSE 0 END) AS cents
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT user_id,
             NTILE(5) OVER (ORDER BY last_d DESC, user_id) AS r,
             NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f,
             NTILE(5) OVER (ORDER BY cents DESC, user_id) AS m
      FROM u
    )
    SELECT r * 100 + f * 10 + m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM q GROUP BY r * 100 + f * 10 + m
    HAVING COUNT(*) >= 3
    ORDER BY segment
    """,
    "RFM segmentation (recency/frequency/monetary quintiles — the CRM "
    "staple): three ntile windows over the USER rollup (deterministic "
    "tie-breaks), segment code r*100+f*10+m; windows run over user-"
    "cardinality rows, never events",
)
def q243(spark, sf_dir):
    d = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(d).alias("last_d"),
            F.count("*").alias("freq"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("value").cast("decimal(18,2)") * 100).cast(
                        "long"
                    ),
                ).otherwise(0)
            ).alias("cents"),
        )
    )
    q = u.select(
        F.ntile(5)
        .over(Window.orderBy(F.desc("last_d"), "user_id"))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), "user_id"))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("cents"), "user_id"))
        .alias("m"),
    )
    return (
        q.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias(
                "segment"
            )
        )
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= 3)
        .orderBy("segment")
    )


@_register(
    "q244_mad_outliers",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM o
    ),
    med AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                      THEN x END) AS m
      FROM r GROUP BY event_type
    ),
    dev AS (
      SELECT o.event_type, o.x, abs(o.x - med.m) AS ad, med.m
      FROM o JOIN med ON med.event_type = o.event_type
    ),
    rd AS (
      SELECT event_type, x, ad, m,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                      THEN ad END) AS mad
      FROM rd GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(MAX(d.m) AS BIGINT) AS median_c,
           CAST(MAX(mad.mad) AS BIGINT) AS mad_c,
           CAST(SUM(CASE WHEN d.ad * 10 > 35 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    "robust outlier detection by MEDIAN ABSOLUTE DEVIATION (the "
    "breakdown-resistant sibling of Tukey fences, q183): exact "
    "quantileExactLow medians in two sorted passes, flag rule "
    "|x-med|*10 > 35*MAD (k=3.5) cross-multiplied — no floats",
)
def q244(spark, sf_dir):
    from kubenetmon_spark.operators.stats import quantile_definitions

    o = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
    )
    med = quantile_definitions(o, ["event_type"], "x", levels=(0.5,)).select(
        "event_type", F.col("p50_low").alias("m")
    )
    dev = o.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("x") - F.col("m"))
    )
    mad = quantile_definitions(
        dev, ["event_type"], "ad", levels=(0.5,)
    ).select("event_type", F.col("p50_low").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("m").alias("median_c"),
            F.max("mad").alias("mad_c"),
            F.sum(
                F.when(
                    F.col("ad") * 10 > 35 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@_register(
    "q245_oov_rate",
    r"""
    WITH toks AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        FROM toks WHERE tok != '' GROUP BY tok
      ) WHERE rk <= 20
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS oov_bp
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    WHERE t.tok != ''
    GROUP BY t.source ORDER BY t.source
    """,
    "out-of-vocabulary rate per source vs the corpus top-K vocab "
    "(tokenizer-coverage diagnostics): vocab = one token rollup + "
    "top-K (deterministic ties), broadcast anti-membership flag on "
    "the token stream, exact bp",
)
def q245(spark, sf_dir):
    toks = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), "tok")),
        )
        .filter(F.col("rk") <= 20)
        .select("tok")
        .withColumn("_in", F.lit(1))
    )
    j = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .withColumn("oov_bp", F.expr("n_oov * 10000 div n_tokens"))
        .orderBy("source")
    )


@_register(
    "q246_share_of_parent",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    reg AS (SELECT region, SUM(cents) AS rc FROM rev GROUP BY region),
    tot AS (SELECT SUM(cents) AS t FROM rev)
    SELECT rev.region, rev.nation,
           CAST(rev.cents AS BIGINT) AS cents,
           CAST(rev.cents * 10000 // reg.rc AS BIGINT)
             AS share_of_region_bp,
           CAST(reg.rc * 10000 // tot.t AS BIGINT)
             AS region_share_bp
    FROM rev JOIN reg ON reg.region = rev.region CROSS JOIN tot
    ORDER BY rev.region, rev.nation
    """,
    "share-of-parent hierarchy report (nation within region within "
    "total, exact bp at both levels): the reporting shape behind "
    "every drill-down dashboard; dim chain broadcasts, shares come "
    "from re-aggregating the already-tiny rollup",
)
def q246(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    reg = rev.groupBy("region").agg(F.sum("cents").alias("rc"))
    tot = rev.agg(F.sum("cents").alias("t"))
    return (
        rev.join(reg, "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            F.expr("cents * 10000 div rc").alias("share_of_region_bp"),
            F.expr("rc * 10000 div t").alias("region_share_bp"),
        )
        .orderBy("region", "nation")
    )


@_register(
    "q247_minmax_scaling",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events
    ),
    b AS (
      SELECT event_type, MIN(x) AS mn, MAX(x) AS mx FROM o
      GROUP BY event_type
    ),
    s AS (
      SELECT o.event_type,
             CASE WHEN b.mx > b.mn
                  THEN (o.x - b.mn) * 10000 // (b.mx - b.mn)
                  ELSE 0 END AS scaled_bp
      FROM o JOIN b ON b.event_type = o.event_type
    )
    SELECT event_type,
           CAST(SUM(scaled_bp) AS BIGINT) AS s_scaled,
           CAST(MIN(scaled_bp) AS BIGINT) AS mn_bp,
           CAST(MAX(scaled_bp) AS BIGINT) AS mx_bp
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    "per-group min-max feature scaling in exact basis points "
    "(winsorize's sibling for bounded normalization): bounds from one "
    "hash agg broadcast back, constant-group guard; endpoints land on "
    "exactly 0 and 10000",
)
def q247(spark, sf_dir):
    o = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
    )
    b = o.groupBy("event_type").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    s = o.join(F.broadcast(b), "event_type").withColumn(
        "scaled_bp",
        F.when(
            F.col("mx") > F.col("mn"),
            F.expr("(x - mn) * 10000 div (mx - mn)"),
        ).otherwise(0),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.sum("scaled_bp").alias("s_scaled"),
            F.min("scaled_bp").alias("mn_bp"),
            F.max("scaled_bp").alias("mx_bp"),
        )
        .orderBy("event_type")
    )


@_register(
    "q248_weekly_rank_movers",
    """
    WITH wk AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_shipdate <
                    (SELECT MIN(l_shipdate) FROM lineitem)
                    + INTERVAL 200 DAY
                  THEN 0 ELSE 1 END AS half,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT brand, half, cents,
             ROW_NUMBER() OVER (PARTITION BY half
                                ORDER BY cents DESC, brand) AS r
      FROM wk
    )
    SELECT a.brand,
           CAST(a.r AS BIGINT) AS rank_before,
           CAST(b.r AS BIGINT) AS rank_after,
           CAST(a.r - b.r AS BIGINT) AS moved_up
    FROM rk a JOIN rk b ON b.brand = a.brand AND a.half = 0
                       AND b.half = 1
    WHERE abs(a.r - b.r) >= 3
    ORDER BY abs(a.r - b.r) DESC, a.brand
    """,
    "rank movers between periods (the 'biggest movers' report): "
    "period revenue ranks with deterministic ties, self-join on the "
    "brand-cardinality rank table, movement threshold — window + "
    "join over rollups only",
)
def q248(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    min_ship = li.agg(F.min("l_shipdate").alias("m0"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wk = (
        li.crossJoin(F.broadcast(min_ship))
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(
                F.col("l_shipdate") < F.date_add(F.col("m0"), 200), 0
            )
            .otherwise(1)
            .alias("half"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
                .cast("long")
            ).alias("cents")
        )
    )
    rk = wk.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("half").orderBy(F.desc("cents"), "brand")
        ),
    )
    a = rk.filter(F.col("half") == 0).select(
        "brand", F.col("r").alias("rank_before")
    )
    b = rk.filter(F.col("half") == 1).select(
        F.col("brand").alias("brand2"), F.col("r").alias("rank_after")
    )
    return (
        a.join(b, a["brand"] == b["brand2"])
        .select(
            "brand",
            F.col("rank_before").cast("long"),
            F.col("rank_after").cast("long"),
            (F.col("rank_before") - F.col("rank_after"))
            .cast("long")
            .alias("moved_up"),
        )
        .filter(F.abs(F.col("moved_up")) >= 3)
        .orderBy(F.abs(F.col("moved_up")).desc(), "brand")
    )


@_register(
    "q249_skyline",
    """
    WITH p AS (
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_c,
             p_size
      FROM part
    )
    SELECT a.p_partkey, CAST(a.price_c AS BIGINT) AS price_c,
           CAST(a.p_size AS BIGINT) AS p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    ORDER BY a.p_partkey
    """,
    "skyline / Pareto frontier (parts not dominated on cheaper-AND-"
    "bigger): the classic multi-criteria query class, expressed as a "
    "dominance anti-join. At 100 TB pre-prune with the monotone "
    "sort-scan (sort by price asc, keep rows whose size exceeds the "
    "running max — exactly the frontier for 2D) which is what the "
    "Spark side runs: ONE sort + running-max window, no self-join",
)
def q249(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    )
    # 2D skyline via one sort: ascending price (ties: size desc), a row
    # is on the frontier iff its size strictly exceeds every earlier
    # size — except equal-price ties, which are frontier TOGETHER when
    # they share the max size at that price.
    prior_strict = Window.orderBy("price_c").rangeBetween(
        Window.unboundedPreceding, -1
    )
    strict_max = F.max("p_size").over(prior_strict)
    peer_max = F.max("p_size").over(
        Window.partitionBy("price_c")
    )
    sky = p.withColumn("_sm", strict_max).withColumn("_pm", peer_max)
    return (
        sky.filter(
            (F.col("p_size") == F.col("_pm"))
            & (
                F.col("_sm").isNull()
                | (F.col("p_size") > F.col("_sm"))
            )
        )
        .select(
            "p_partkey",
            "price_c",
            F.col("p_size").cast("long").alias("p_size"),
        )
        .orderBy("p_partkey")
    )


@_register(
    "q250_top_paths",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS p1,
             LAG(event_type, 2) OVER w AS p2
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT p2 || '>' || p1 || '>' || event_type AS path, COUNT(*) AS n
      FROM o WHERE p2 IS NOT NULL GROUP BY 1
    ),
    ranked AS (
      SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk
      FROM paths
    )
    SELECT path, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 15 ORDER BY rk
    """,
    "top 3-step user paths (behavioral path mining — the q241 "
    "transition matrix extended one hop): two lag offsets over ONE "
    "(user, ts) sort, path-string rollup, deterministic top-15",
)
def q250(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (
        _t(spark, sf_dir, "events")
        .withColumn("p1", F.lag("event_type").over(w))
        .withColumn("p2", F.lag("event_type", 2).over(w))
        .filter(F.col("p2").isNotNull())
    )
    paths = o.groupBy(
        F.concat_ws(">", "p2", "p1", "event_type").alias("path")
    ).agg(F.count("*").alias("n"))
    ranked = paths.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), "path"))
    )
    return (
        ranked.filter(F.col("rk") <= 15)
        .select("path", "n", F.col("rk").cast("long").alias("rk"))
        .orderBy("rk")
    )


@_register(
    "q251_entry_channel_conversion",
    """
    WITH o AS (
      SELECT user_id, event_type,
             epoch(date_trunc('second', ts)) AS t, event_id
      FROM events
    ),
    g AS (
      SELECT *, CASE WHEN t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END
               AS brk
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    s AS (
      SELECT *, 1 + SUM(brk) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    per0 AS (
      SELECT user_id, sid, event_type,
             FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sid
                                           ORDER BY t, event_id)
               AS entry
      FROM s
    ),
    per AS (
      SELECT user_id, sid, ANY_VALUE(entry) AS entry,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM per0 GROUP BY user_id, sid
    )
    SELECT entry,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) * 10000 // COUNT(*) AS BIGINT)
             AS conv_bp
    FROM per GROUP BY entry ORDER BY entry
    """,
    "conversion rate by session ENTRY channel (which first action "
    "leads to purchase) — sessionize composed with a per-session "
    "min_by entry pick and purchase flag; gap-detect, numbering, and "
    "the session rollup all share one (user, ts) sort",
)
def q251(spark, sf_dir):
    from kubenetmon_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    s = sessionize(
        ev, ["user_id"], gap_seconds=1800, order_cols=["event_id"]
    )
    per = s.groupBy("user_id", "session_id").agg(
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("entry"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    return (
        per.groupBy("entry")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
        )
        .withColumn(
            "conv_bp", F.expr("n_converted * 10000 div n_sessions")
        )
        .orderBy("entry")
    )


@_register(
    "q252_token_burstiness",
    r"""
    WITH d AS (
      SELECT source,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             t -> t != '')) AS x
      FROM documents
    ),
    a AS (
      SELECT source, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS ss
      FROM d GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s_tok,
           CAST(CASE WHEN n > 1 AND s > 0 THEN
             floor(CAST((n * ss - s * s) * 10000 AS DOUBLE)
                   / ((n - 1) * s)) END AS BIGINT) AS vmr_bp
    FROM a ORDER BY source
    """,
    "token-count burstiness per source (variance-to-mean ratio in "
    "exact bp — uniform sources sit near their mean, bursty ones "
    "blow up): VMR = (n*Sxx - S^2)/((n-1)*S), one cross-multiply "
    "from exact integer sums",
)
def q252(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
            )
        )
        .cast("long")
        .alias("x"),
    )
    a = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    vmr = F.when(
        (F.col("n") > 1) & (F.col("s") > 0),
        F.floor(
            (
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                * 10000
            ).cast("double")
            / ((F.col("n") - 1) * F.col("s"))
        ),
    ).cast("long")
    return a.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s_tok"),
        vmr.alias("vmr_bp"),
    ).orderBy("source")


@_register(
    "q253_repurchase_intervals",
    """
    WITH p AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d,
             event_id
      FROM events WHERE event_type = 'purchase'
    ),
    iv AS (
      SELECT user_id,
             d - LAG(d) OVER (PARTITION BY user_id
                              ORDER BY d, event_id) AS gap_d
      FROM p
    ),
    g AS (SELECT gap_d FROM iv WHERE gap_d IS NOT NULL),
    r AS (
      SELECT gap_d, ROW_NUMBER() OVER (ORDER BY gap_d) AS rn,
             COUNT(*) OVER () AS n
      FROM g
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_intervals,
           CAST(SUM(gap_d) AS BIGINT) AS s_days,
           CAST(MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                              + 1 THEN gap_d END) AS BIGINT) AS p50_d,
           CAST(MIN(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT)
                              + 1 THEN gap_d END) AS BIGINT) AS p90_d
    FROM r
    """,
    "repeat-purchase interval distribution (days between consecutive "
    "purchases; the repurchase-cycle metric behind replenishment "
    "campaigns): per-user lag over one sort, exact p50/p90 via the "
    "q144 positions",
)
def q253(spark, sf_dir):
    from kubenetmon_spark.operators.stats import quantile_definitions

    d = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    p = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", d.alias("d"), "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("d", "event_id")
    iv = p.withColumn("gap_d", F.col("d") - F.lag("d").over(w)).filter(
        F.col("gap_d").isNotNull()
    ).withColumn("g", F.lit(1))
    q = quantile_definitions(iv, ["g"], "gap_d", levels=(0.5, 0.9))
    s = iv.groupBy("g").agg(
        F.count("*").alias("n_intervals"),
        F.sum("gap_d").alias("s_days"),
    )
    return (
        q.join(s, "g")
        .select(
            F.col("n_intervals").cast("long"),
            F.col("s_days").cast("long"),
            F.col("p50_low").cast("long").alias("p50_d"),
            F.col("p90_low").cast("long").alias("p90_d"),
        )
    )


@_register(
    "q254_discount_effectiveness",
    """
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT disc_pct,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS s_qty,
           CAST(SUM(qty) * 100 // COUNT(*) AS BIGINT)
             AS avg_qty_x100,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM b GROUP BY disc_pct ORDER BY disc_pct
    """,
    "discount effectiveness by band (does a deeper discount move more "
    "units): integer percent bands from the 2-decimal discount, exact "
    "avg-quantity x100 by floor division — one hash agg",
)
def q254(spark, sf_dir):
    b = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100, 0)
        .cast("long")
        .alias("disc_pct"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        b.groupBy("disc_pct")
        .agg(
            F.count("*").alias("n"),
            F.sum("qty").alias("s_qty"),
            F.sum("cents").alias("cents"),
        )
        .withColumn("avg_qty_x100", F.expr("s_qty * 100 div n"))
        .select("disc_pct", "n", "s_qty", "avg_qty_x100", "cents")
        .orderBy("disc_pct")
    )


@_register(
    "q255_vocab_growth",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    firsts AS (
      SELECT tok, MIN(doc_id) AS d0 FROM toks WHERE tok != ''
      GROUP BY tok
    ),
    nn AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
    newv AS (
      SELECT CAST(d0 * 10 // nn.n_docs AS BIGINT) AS decile,
             COUNT(*) AS new_tokens
      FROM firsts, nn GROUP BY 1
    ),
    vol AS (
      SELECT CAST(doc_id * 10 // nn.n_docs AS BIGINT) AS decile,
             COUNT(*) AS tokens
      FROM toks, nn WHERE tok != '' GROUP BY 1
    )
    SELECT v.decile,
           CAST(v.tokens AS BIGINT) AS tokens,
           CAST(COALESCE(n.new_tokens, 0) AS BIGINT) AS new_tokens,
           CAST(SUM(COALESCE(n.new_tokens, 0))
                OVER (ORDER BY v.decile ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS vocab_size
    FROM vol v LEFT JOIN newv n ON n.decile = v.decile
    ORDER BY v.decile
    """,
    "vocabulary growth curve (Heaps'-law diagnostics: distinct-token "
    "count vs corpus volume by doc-order decile): first-occurrence "
    "doc per token (one token shuffle), decile rollups, cumulative "
    "window over 10 rows — the saturation signal that says when more "
    "of the same source stops adding vocabulary",
)
def q255(spark, sf_dir):
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    n_docs = (
        _t(spark, sf_dir, "documents")
        .agg((F.max("doc_id") + 1).alias("n"))
        .collect()[0]
        .n
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("d0"))
    newv = firsts.groupBy(
        F.expr(f"d0 * 10 div {n_docs}L").alias("decile")
    ).agg(F.count("*").alias("new_tokens"))
    vol = toks.groupBy(
        F.expr(f"doc_id * 10 div {n_docs}L").alias("decile")
    ).agg(F.count("*").alias("tokens"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        vol.join(newv, "decile", "left")
        .withColumn(
            "new_tokens", F.coalesce(F.col("new_tokens"), F.lit(0))
        )
        .withColumn("vocab_size", F.sum("new_tokens").over(w))
        .select("decile", "tokens", "new_tokens", "vocab_size")
        .orderBy("decile")
    )


@_register(
    "q256_interarrival_dispersion",
    """
    WITH o AS (
      SELECT user_id, epoch(date_trunc('second', ts)) AS t, event_id
      FROM events
    ),
    g AS (
      SELECT user_id,
             t - LAG(t) OVER (PARTITION BY user_id
                              ORDER BY t, event_id) AS gap_s
      FROM o
    ),
    a AS (
      SELECT user_id, COUNT(*) AS n, SUM(gap_s) AS s,
             SUM(gap_s * gap_s) AS ss
      FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
      HAVING COUNT(*) >= 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN (n * ss - s * s) * n
                          > (n - 1) * s * s THEN 1 ELSE 0 END)
             AS BIGINT) AS n_bursty,
           CAST(SUM(n) AS BIGINT) AS n_gaps
    FROM a
    """,
    "inter-arrival burstiness per user (CV^2 > 1 marks burstier-than-"
    "Poisson arrival, the bot/batch-traffic tell): exact integer "
    "cross-multiplied test n*(n*Sxx - S^2) > (n-1)*S^2 — no variance "
    "float ever computed; per-user lag over one sort",
)
def q256(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    o = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("t"),
        "event_id",
    )
    g = o.withColumn("gap_s", F.col("t") - F.lag("t").over(w)).filter(
        F.col("gap_s").isNotNull()
    )
    a = (
        g.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_s").alias("s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("ss"),
        )
        .filter(F.col("n") >= 5)
    )
    bursty = F.when(
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        * F.col("n")
        > (F.col("n") - 1) * F.col("s") * F.col("s"),
        1,
    ).otherwise(0)
    return a.agg(
        F.count("*").alias("n_users"),
        F.sum(bursty).alias("n_bursty"),
        F.sum("n").alias("n_gaps"),
    )


@_register(
    "q257_weekday_hour_heatmap",
    """
    WITH x AS (
      SELECT isodow(ts) AS dow, hour(ts) AS hr,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      FROM events
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS BIGINT) AS n_purchases
    FROM x GROUP BY dow, hr HAVING COUNT(*) > 0
    ORDER BY dow, hr
    """,
    "weekday x hour activity heatmap (the ops-dashboard staple; "
    "ClickHouse Monday=1 dayOfWeek convention via weekday+1): one "
    "hash agg over the fixed 7x24 keyspace",
)
def q257(spark, sf_dir):
    x = _t(spark, sf_dir, "events").select(
        (F.weekday("ts") + 1).alias("dow"),
        F.hour("ts").alias("hr"),
        (F.col("event_type") == "purchase").cast("int").alias("p"),
    )
    return (
        x.groupBy(
            F.col("dow").cast("long").alias("dow"),
            F.col("hr").cast("long").alias("hr"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("p").alias("n_purchases"),
        )
        .orderBy("dow", "hr")
    )


@_register(
    "q258_return_rate_by_brand",
    """
    WITH x AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(r) AS BIGINT) AS n_returned,
           CAST(SUM(r) * 10000 // COUNT(*) AS BIGINT) AS return_bp,
           CAST(SUM(CASE WHEN r = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS returned_cents
    FROM x GROUP BY brand ORDER BY brand
    """,
    "return-rate by brand (the product-quality signal buyers watch): "
    "broadcast part join, exact bp share plus returned revenue — one "
    "hash agg",
)
def q258(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("int").alias("r"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return (
        x.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("r").alias("n_returned"),
            F.sum(
                F.when(F.col("r") == 1, F.col("cents")).otherwise(0)
            ).alias("returned_cents"),
        )
        .withColumn(
            "return_bp", F.expr("n_returned * 10000 div n_lines")
        )
        .select(
            "brand", "n_lines", "n_returned", "return_bp",
            "returned_cents",
        )
        .orderBy("brand")
    )


@_register(
    "q259_hourly_propensity_lift",
    """
    WITH x AS (
      SELECT hour(ts) AS hr,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      FROM events
    ),
    h AS (SELECT hr, COUNT(*) AS n, SUM(p) AS np FROM x GROUP BY hr),
    tot AS (SELECT SUM(n) AS tn, SUM(np) AS tp FROM h)
    SELECT CAST(h.hr AS BIGINT) AS hr,
           CAST(h.n AS BIGINT) AS n,
           CAST(h.np AS BIGINT) AS n_purchases,
           CAST(h.np * tot.tn * 10000 // (h.n * tot.tp) AS BIGINT)
             AS lift_bp
    FROM h, tot ORDER BY hr
    """,
    "purchase-propensity lift by hour (when are users in buying mode "
    "vs baseline): lift = P(buy|hr)/P(buy) as the exact integer "
    "cross-multiply np*TN*10000 // (n*TP); 24-row keyspace",
)
def q259(spark, sf_dir):
    x = _t(spark, sf_dir, "events").select(
        F.hour("ts").alias("hr"),
        (F.col("event_type") == "purchase").cast("int").alias("p"),
    )
    h = x.groupBy("hr").agg(
        F.count("*").alias("n"), F.sum("p").alias("np")
    )
    tot = h.agg(F.sum("n").alias("tn"), F.sum("np").alias("tp"))
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            F.col("hr").cast("long").alias("hr"),
            "n",
            F.col("np").alias("n_purchases"),
            F.expr("np * tn * 10000 div (n * tp)").alias("lift_bp"),
        )
        .orderBy("hr")
    )


@_register(
    "q260_vs_trailing_baseline",
    """
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, day, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS trail7,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS trail_days
      FROM d
    )
    SELECT event_type, CAST(day AS BIGINT) AS day,
           CAST(n AS BIGINT) AS n,
           CAST(trail7 AS BIGINT) AS trail7,
           CAST(CASE WHEN trail7 > 0
                THEN n * trail_days * 10000 // trail7 END AS BIGINT)
             AS vs_baseline_bp
    FROM b WHERE trail_days = 7 ORDER BY event_type, day
    """,
    "today-vs-trailing-7-day baseline (the alerting comparison behind "
    "'traffic is 2x normal'): trailing window sum+count share one "
    "(series, day) sort; ratio = n*days*10000 // trail_sum exact; "
    "rows without a full 7-day history are excluded, not guessed",
)
def q260(spark, sf_dir):
    day = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    d = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", day.alias("day"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    b = d.withColumn("trail7", F.sum("n").over(w)).withColumn(
        "trail_days", F.count("n").over(w)
    )
    return (
        b.filter(F.col("trail_days") == 7)
        .select(
            "event_type",
            "day",
            "n",
            "trail7",
            F.when(
                F.col("trail7") > 0,
                F.expr("n * trail_days * 10000 div trail7"),
            ).alias("vs_baseline_bp"),
        )
        .orderBy("event_type", "day")
    )


@_register(
    "q261_delta_contribution",
    """
    WITH bounds AS (
      SELECT MIN(CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT))
               AS d0,
             MAX(CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT))
               AS d1
      FROM events
    ),
    x AS (
      SELECT event_type,
             CASE WHEN CAST(floor(epoch_us(ts) / 86400000000.0)
                       AS BIGINT) - bounds.d0
                       < (bounds.d1 - bounds.d0 + 1) // 2
                  THEN 0 ELSE 1 END AS half
      FROM events, bounds
    ),
    seg AS (
      SELECT event_type,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
      FROM x GROUP BY event_type
    ),
    tot AS (SELECT SUM(n2 - n1) AS td FROM seg)
    SELECT seg.event_type,
           CAST(seg.n1 AS BIGINT) AS n_before,
           CAST(seg.n2 AS BIGINT) AS n_after,
           CAST(seg.n2 - seg.n1 AS BIGINT) AS delta,
           CAST(CASE WHEN tot.td != 0
                THEN CAST(floor(CAST((seg.n2 - seg.n1) * 10000
                                     AS DOUBLE) / tot.td) AS BIGINT)
                END AS BIGINT) AS contribution_bp
    FROM seg, tot ORDER BY seg.event_type
    """,
    "delta-contribution decomposition (FP&A's 'what drove the change' "
    "— every segment's share of the period-over-period total delta, "
    "signs preserved, shares sum to ~10000): two conditional sums in "
    "ONE pass, floor division (negative-safe) against the total delta",
)
def q261(spark, sf_dir):
    day = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    b = _t(spark, sf_dir, "events").agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    x = (
        _t(spark, sf_dir, "events")
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.when(
                day - F.col("d0")
                < F.expr("(d1 - d0 + 1) div 2"),
                0,
            )
            .otherwise(1)
            .alias("half"),
        )
    )
    seg = x.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n2"),
    )
    tot = seg.agg(F.sum(F.col("n2") - F.col("n1")).alias("td"))
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n1").alias("n_before"),
            F.col("n2").alias("n_after"),
            (F.col("n2") - F.col("n1")).alias("delta"),
            F.when(
                F.col("td") != 0,
                F.floor(
                    ((F.col("n2") - F.col("n1")) * 10000).cast("double")
                    / F.col("td")
                ).cast("long"),
            ).alias("contribution_bp"),
        )
        .orderBy("event_type")
    )


@_register(
    "q262_nation_trade_balance",
    """
    WITH buy AS (
      SELECT c.c_nationkey AS nation,
             SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS buy_c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ),
    sell AS (
      SELECT s.s_nationkey AS nation,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS sell_c
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey
    )
    SELECT CAST(COALESCE(b.nation, s.nation) AS BIGINT) AS nation,
           CAST(COALESCE(b.buy_c, 0) AS BIGINT) AS buy_c,
           CAST(COALESCE(s.sell_c, 0) AS BIGINT) AS sell_c,
           CAST(COALESCE(s.sell_c, 0) - COALESCE(b.buy_c, 0)
             AS BIGINT) AS balance_c
    FROM buy b FULL OUTER JOIN sell s ON s.nation = b.nation
    ORDER BY nation
    """,
    "nation trade balance (demand via customers vs supply via "
    "suppliers — the two-fact-table reconciliation shape): two "
    "independent rollups FULL OUTER joined on the tiny nation key; "
    "neither side's absence hides the other",
)
def q262(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    buy = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.sum("cents").alias("buy_c"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sell = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation2"))
        .agg(F.sum("cents").alias("sell_c"))
    )
    j = buy.join(sell, buy["nation"] == sell["nation2"], "full_outer")
    return j.select(
        F.coalesce(F.col("nation"), F.col("nation2"))
        .cast("long")
        .alias("nation"),
        F.coalesce(F.col("buy_c"), F.lit(0)).alias("buy_c"),
        F.coalesce(F.col("sell_c"), F.lit(0)).alias("sell_c"),
        (
            F.coalesce(F.col("sell_c"), F.lit(0))
            - F.coalesce(F.col("buy_c"), F.lit(0))
        ).alias("balance_c"),
    ).orderBy("nation")


@_register(
    "q263_top_decile_concentration",
    """
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 ELSE 0 END) AS cents
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents DESC, user_id)
               AS decile
      FROM u
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) * 10000 // (SELECT SUM(cents) FROM u)
             AS BIGINT) AS share_bp
    FROM r GROUP BY decile ORDER BY decile
    """,
    "revenue concentration by user decile ('the top 10% drive X%'): "
    "ntile over the USER rollup with deterministic ties, exact bp "
    "shares against the grand total — q238's Gini as the readable "
    "decile table",
)
def q263(spark, sf_dir):
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("value").cast("decimal(18,2)") * 100).cast(
                        "long"
                    ),
                ).otherwise(0)
            ).alias("cents")
        )
    )
    tot = u.agg(F.sum("cents").alias("t"))
    r = u.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.desc("cents"), "user_id")),
    )
    return (
        r.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum("cents").alias("cents"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("share_bp", F.expr("cents * 10000 div t"))
        .select("decile", "n_users", "cents", "share_bp")
        .orderBy("decile")
    )


@_register(
    "q264_json_key_canary",
    """
    WITH k AS (
      SELECT unnest(json_keys(props)) AS key,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS d
      FROM events
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(d) AS BIGINT) AS first_day,
           CAST(MAX(d) AS BIGINT) AS last_day
    FROM k GROUP BY key ORDER BY key
    """,
    "JSON-key schema-drift canary over the open props column (the "
    "connectionFlags analogue, network_flows_0.sql:9): per-key counts "
    "and first/last appearance days — a NEW key shows up here before "
    "it breaks a consumer; json_object_keys explode + one hash agg",
)
def q264(spark, sf_dir):
    day = F.expr("cast(floor(cast(ts as double) / 86400) as bigint)")
    k = _t(spark, sf_dir, "events").select(
        F.explode(F.json_object_keys("props")).alias("key"),
        day.alias("d"),
    )
    return (
        k.groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
        )
        .orderBy("key")
    )


@_register(
    "q265_bounce_rate",
    """
    WITH o AS (
      SELECT user_id, epoch(date_trunc('second', ts)) AS t, event_id
      FROM events
    ),
    g AS (
      SELECT user_id, t, event_id,
             CASE WHEN t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END
               AS brk
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    s AS (
      SELECT user_id,
             1 + SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    d AS (
      SELECT user_id, sid, COUNT(*) AS depth
      FROM s GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS bounce_bp
    FROM d
    """,
    "bounce rate (share of single-event sessions — q242's histogram "
    "reduced to the headline engagement KPI): sessionize + depth, "
    "exact bp",
)
def q265(spark, sf_dir):
    from kubenetmon_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    s = sessionize(
        ev, ["user_id"], gap_seconds=1800, order_cols=["event_id"]
    )
    d = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("depth")
    )
    return d.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("depth") == 1, 1).otherwise(0)).alias(
            "n_bounces"
        ),
    ).withColumn(
        "bounce_bp", F.expr("n_bounces * 10000 div n_sessions")
    )


@_register(
    "q266_price_dispersion",
    """
    WITH p AS (
      SELECT p_type,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_c
      FROM part
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(price_c) AS BIGINT) AS min_c,
           CAST(MAX(price_c) AS BIGINT) AS max_c,
           CAST(CASE WHEN MIN(price_c) > 0
                THEN MAX(price_c) * 10000 // MIN(price_c) END
             AS BIGINT) AS spread_bp
    FROM p GROUP BY p_type HAVING COUNT(*) >= 3 ORDER BY p_type
    """,
    "price dispersion per part type (max/min spread in exact bp — "
    "the assortment-pricing sanity report): one hash agg, "
    "zero-price guard",
)
def q266(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_type",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_c"),
    )
    return (
        p.groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.min("price_c").alias("min_c"),
            F.max("price_c").alias("max_c"),
        )
        .filter(F.col("n") >= 3)
        .withColumn(
            "spread_bp",
            F.when(
                F.col("min_c") > 0,
                F.expr("max_c * 10000 div min_c"),
            ),
        )
        .select("p_type", "n", "min_c", "max_c", "spread_bp")
        .orderBy("p_type")
    )


@_register(
    "q267_proto_ingest",
    _FLOW_STREAM_ORACLE,
    "q34 over the reference's ACTUAL wire format: observations are "
    "protobuf-encoded to the agent's Observation message bytes "
    "(reference pkg/grpc/flow_handler.proto:24-68), land as binary "
    "payloads, stream through the hand-rolled wire decoder "
    "(sources/proto.py — no protobuf lib, no gRPC server), and the "
    "labeled/compacted flow table must carry EXACTLY the same sums as "
    "the JSON-path gate — proving a reference agent can point at this "
    "engine unmodified",
)
def q267(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.sink import compact, read_flows
    from kubenetmon_spark.sources.proto import (
        encode_observations_df,
        parse_proto_observations,
    )
    from kubenetmon_spark.streaming import start_flow_stream

    tmp = tempfile.mkdtemp(prefix="gate_proto_")
    obs, pods, nodes, prefixes = build_flow_inputs(spark, sf_dir)
    # producer side: the exact bytes a reference agent would Submit
    encode_observations_df(obs).repartition(8).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/wire")
    wire_stream = (
        spark.readStream.schema("value binary").parquet(f"{tmp}/wire")
    )
    q = start_flow_stream(
        parse_proto_observations(wire_stream),
        f"{tmp}/flows",
        f"{tmp}/ckpt",
        pods,
        nodes,
        prefixes,
        DEMO_CFG,
        trigger={"availableNow": True},
    )
    q.awaitTermination(600)
    # every append is a pre-summed micro-batch (the stream's posture),
    # so compact's cost is merge-debt-proportional (sink.compact r8)
    compact(spark, f"{tmp}/flows", presummed=True)
    return (
        read_flows(spark, f"{tmp}/flows")
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("bytes"), F.sum("packets").alias("packets"))
        .orderBy("connectionClass", "direction")
    )


def _quantile_sample_oracle_sql(k: int, qs: list[int]) -> str:
    # 13-hex-digit md5 prefix of the KEY -> 52-bit hash (the q117 idiom)
    hash_expr = (
        "list_sum(list_transform(range(1, 14), i -> "
        "(instr('0123456789abcdef', substring(md5(CAST(event_id AS VARCHAR)), "
        "i, 1)) - 1) * (16 ** (13 - i))::BIGINT))"
    )
    pcols = ",\n           ".join(
        f"CAST(MAX(CASE WHEN vr = (n - 1) * {q} // 100 + 1 THEN v END)"
        f" AS BIGINT) AS p{q}"
        for q in qs
    )
    return f"""
    WITH h AS (
      SELECT event_type, {hash_expr} AS h,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    r AS (
      SELECT event_type, h, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, v) AS rk
      FROM h
    ),
    s AS (SELECT event_type, v FROM r WHERE rk <= {k}),
    o AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS vr,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM s
    )
    SELECT event_type, CAST(MAX(n) AS INTEGER) AS n_sample,
           {pcols}
    FROM o GROUP BY event_type ORDER BY event_type
    """


@_register(
    "q268_quantile_sketch",
    _quantile_sample_oracle_sql(256, [50, 90, 99]),
    "ClickHouse quantileState/-Merge as an ENGINE-EXACT bottom-k hash "
    "sample (operators/sketch.py::quantile_sample_state/quantile_merge): "
    "per-day mergeable uniform row samples (52-bit md5 of the row key) "
    "union into range percentiles without a fact rescan; the estimate "
    "is pure integer indexing into the value-sorted sample, so the "
    "DuckDB oracle reproduces every percentile bit-for-bit (below k "
    "rows the sample IS the group and quantiles are exact) — the "
    "deterministic, oracle-able twin of q56's engine-specific "
    "approx_percentile",
)
def q268(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import (
        quantile_merge,
        quantile_sample_state,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    daily = quantile_sample_state(
        ev, ["event_type", "day"], "cents", "event_id", k=256
    )
    return quantile_merge(
        daily, ["event_type"], [50, 90, 99], k=256
    ).orderBy("event_type")


def _kmv_overlap_oracle_sql(k: int) -> str:
    hash_expr = (
        "list_sum(list_transform(range(1, 14), i -> "
        "(instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR) "
        "|| ':' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)), "
        "i, 1)) - 1) * (16 ** (13 - i))::BIGINT))"
    )
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type, {hash_expr} AS h FROM events
    ),
    r AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM h
    ),
    s AS (
      SELECT event_type, list(h ORDER BY h) AS sk
      FROM r WHERE rk <= {k} GROUP BY event_type
    ),
    p AS (
      SELECT a.event_type AS group_1, b.event_type AS group_2,
             (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:{k}] AS u,
             a.sk AS sa, b.sk AS sb
      FROM s a JOIN s b ON a.event_type < b.event_type
    )
    SELECT group_1, group_2,
           CAST(len(u) AS INTEGER) AS n_union_sample,
           CAST(len(list_filter(u, x -> list_contains(sa, x)
                                    AND list_contains(sb, x))) AS INTEGER)
             AS n_common,
           CAST(len(list_filter(u, x -> list_contains(sa, x)
                                    AND list_contains(sb, x))) * 10000
                // len(u) AS BIGINT) AS jaccard_bp
    FROM p ORDER BY group_1, group_2
    """


@_register(
    "q269_kmv_overlap",
    _kmv_overlap_oracle_sql(256),
    "audience-overlap estimation from KMV states "
    "(operators/sketch.py::kmv_overlap): pairwise Jaccard of the "
    "(user, day) activity sets of every event-type pair, computed "
    "entirely from the per-type bottom-k sketches — no fact rescan, "
    "engine-exact like the whole KMV family (q117); the classic "
    "'which segments share users' question at sketch cost",
)
def q269(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import kmv_overlap, kmv_state

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            ":", F.col("user_id"), F.to_date("ts").cast("string")
        ).alias("user_day"),
    )
    states = kmv_state(ev, ["event_type"], "user_day", k=256)
    return kmv_overlap(states, "event_type", k=256).orderBy(
        "group_1", "group_2"
    )


@_register(
    "q270_dup_triangles",
    f"""
    WITH {_MINHASH_PAIRS_SQL},
    e AS (SELECT id_1 AS a, id_2 AS b FROM pairs),
    tri AS (
      SELECT 1 AS one
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    )
    SELECT CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS n_wedges
    """,
    "triangle census of the document near-dup graph (global clustering "
    "signal: triangles/wedges tells how clique-like the duplicate "
    "neighborhoods are — near-1 means true duplicate groups, near-0 "
    "means chained false positives): the classic ORIENTED 2-join "
    "triangle count over a<b<c edges (each triangle counted once, the "
    "shuffle-minimal formulation) plus the wedge count from the degree "
    "table — both plain equi-joins over the verified MinHash-LSH pairs",
)
def q270(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    e = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4, n=3,
        verify_threshold_bp=3000,
    ).select(F.col("id_1").alias("a"), F.col("id_2").alias("b"))
    e = e.localCheckpoint(eager=True)  # pair generation runs once, not 5x
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.a") == F.col("e1.b")).join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    )
    nodes = e.select(F.col("a").alias("node")).unionByName(
        e.select(F.col("b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(wedges)
    )


@_register(
    "q271_knn_classify",
    f"""
{_KNN_IVF_CTES},
    ranked AS (
      SELECT qid, nbr_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, nbr_id) AS rank
      FROM cands
    ),
    nbr AS (
      SELECT r.qid, emb.label AS nl
      FROM ranked r JOIN embeddings emb ON emb.vec_id = r.nbr_id
      WHERE r.rank <= 5
    ),
    votes AS (
      SELECT qid, nl, COUNT(*) AS c FROM nbr GROUP BY qid, nl
    ),
    pred AS (
      SELECT qid, nl AS predicted FROM (
        SELECT qid, nl,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY c DESC, nl ASC) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT emb.label AS true_label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN p.predicted = emb.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.predicted = emb.label THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS accuracy_bp
    FROM pred p JOIN embeddings emb ON emb.vec_id = p.qid
    GROUP BY emb.label ORDER BY true_label
    """,
    "kNN classification evaluation over the labeled embedding corpus "
    "(the data-quality probe for an embedding space: can 5 exact-integer "
    "IVF neighbors recover the label?): q165's kNN JOIN + per-query "
    "majority vote (ties -> lowest label) -> per-class accuracy in "
    "basis points — neighbors, votes, and accuracy all "
    "engine-reproducible, oracle replays the identical pipeline",
)
def q271(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nbrs = knn_join(emb, queries, k=5, n_centroids=16, n_probe=4)
    labels = emb.select("vec_id", "label")
    votes = (
        nbrs.join(labels, nbrs["nbr_id"] == labels["vec_id"])
        .groupBy("query_id", F.col("label").alias("nl"))
        .agg(F.count("*").alias("c"))
    )
    pred = votes.groupBy("query_id").agg(
        F.max_by(
            F.col("nl"), F.struct(F.col("c"), (-F.col("nl")).alias("_t"))
        ).alias("predicted")
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    hit = F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n"),
            F.sum(hit).alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("accuracy_bp"),
        )
        .orderBy("true_label")
    )


def _ttc_oracle_sql(k: int) -> str:
    hash_expr = (
        "list_sum(list_transform(range(1, 14), i -> "
        "(instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), "
        "i, 1)) - 1) * (16 ** (13 - i))::BIGINT))"
    )
    return f"""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN epoch(date_trunc('second', ts)) END) AS t0,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch(date_trunc('second', ts)) END) AS t1
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, CAST(t1 - t0 AS BIGINT) AS ttc
      FROM f WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
    ),
    h AS (SELECT user_id, ttc, {hash_expr} AS h FROM conv),
    r AS (
      SELECT ttc, ROW_NUMBER() OVER (ORDER BY h, ttc) AS rk FROM h
    ),
    s AS (SELECT ttc FROM r WHERE rk <= {k}),
    o AS (
      SELECT ttc, ROW_NUMBER() OVER (ORDER BY ttc) AS vr,
             COUNT(*) OVER () AS n
      FROM s
    )
    SELECT CAST(MAX(n) AS INTEGER) AS n_sample,
           CAST(MAX(CASE WHEN vr = (n - 1) * 50 // 100 + 1 THEN ttc END)
                AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN vr = (n - 1) * 90 // 100 + 1 THEN ttc END)
                AS BIGINT) AS p90
    FROM o
    """


@_register(
    "q272_time_to_convert",
    _ttc_oracle_sql(256),
    "funnel latency percentiles (signup -> first purchase) through the "
    "mergeable quantile sketch: per-user first-touch times from one "
    "conditional aggregation, converters' time-to-convert sampled with "
    "q268's bottom-k state and read out as engine-exact p50/p90 — the "
    "product question every funnel dashboard asks, at sketch cost",
)
def q272(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import (
        quantile_merge,
        quantile_sample_state,
    )

    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts").cast("long"))
        ).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("long"))
        ).alias("t1"),
    )
    conv = f.filter(
        F.col("t0").isNotNull()
        & F.col("t1").isNotNull()
        & (F.col("t1") >= F.col("t0"))
    ).select("user_id", (F.col("t1") - F.col("t0")).alias("ttc"))
    st = quantile_sample_state(conv, [], "ttc", "user_id", k=256)
    out = quantile_merge(
        st.withColumn("_g", F.lit(1)), ["_g"], [50, 90], k=256
    )
    return out.select("n_sample", "p50", "p90")


@_register(
    "q273_cosine_lsh_exact_dups",
    f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 30
    ),
    n AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM base
    )
    SELECT a.vec_id AS id_1, b.vec_id AS id_2,
           CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')} / (a.nm * b.nm), 4) * 10000 AS BIGINT) AS cosine_bp
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')} / (a.nm * b.nm), 4) * 10000 AS BIGINT) >= 10000
    ORDER BY id_1, id_2
    """,
    "the sign-LSH default path of cosine_near_dup_pairs, oracle-paired "
    "at the exact-duplicate threshold (cosine_bp=10000): LSH output is "
    "always a SUBSET of the exact answer (candidates are re-ranked with "
    "the exact formula), and exact-direction pairs agree on every band "
    "key, so the planted copies are provably never missed — the "
    "scale-default path gets a real hash-matched oracle without "
    "promising recall it does not have (q27 gates the exact methods)",
)
def q273(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return cosine_near_dup_pairs(
        e.unionByName(copies), threshold_bp=10000, method="lsh"
    ).orderBy("id_1", "id_2")


@_register(
    "q274_dsir_integer",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, source,
             unnest(list_concat(t,
               list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                              i -> t[i] || ' ' || t[i + 1]))) AS g
      FROM toks
    ),
    rawf AS MATERIALIZED (
      SELECT doc_id AS _id,
             CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) % 4096 AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2
    ),
    tgtf AS MATERIALIZED (
      SELECT CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) % 4096 AS bucket,
             COUNT(*) AS tgt_n
      FROM grams WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    rdist AS (SELECT bucket, SUM(cnt) AS raw_n FROM rawf GROUP BY bucket),
    tot AS (SELECT (SELECT SUM(raw_n) FROM rdist) AS R,
                   (SELECT COALESCE(SUM(tgt_n), 0) FROM tgtf) AS T),
    ratio AS (
      SELECT r.bucket,
             ((COALESCE(t.tgt_n, 0) + 1) * (tot.R + 4096) * 10000)
               // ((r.raw_n + 1) * (tot.T + 4096)) AS ratio_bp
      FROM rdist r LEFT JOIN tgtf t USING (bucket), tot
    )
    SELECT f._id AS doc_id,
           CAST(SUM(f.cnt * (ratio_bp - 10000)) AS BIGINT) AS score
    FROM rawf f JOIN ratio USING (bucket)
    GROUP BY f._id
    ORDER BY score DESC, doc_id LIMIT 50
    """,
    "DSIR importance RANKING with exact-integer scoring — the "
    "oracle-able twin of q113's float path (same pipeline shape: "
    "hashed uni+bigram features, two bucket distributions, broadcast "
    "basis-point ratio table, one per-doc weighted sum, deterministic "
    "top-k; the md5-prefix bucket hash is engine-portable where "
    "xxhash64 is not) — operators/dsir.py::dsir_integer_scores. "
    "Since r6, q113 itself also hash-matches via the fixed-point-ln "
    "Gumbel path; this gate keeps the noise-free RANKING surface",
)
def q274(spark, sf_dir):
    from kubenetmon_spark.operators.dsir import dsir_integer_scores

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    return dsir_integer_scores(
        docs, target, "doc_id", buckets=4096, k=50, target_within_raw=True
    ).orderBy(F.desc("score"), "doc_id")


@_register(
    "q275_scd2_dimension",
    """
    WITH s AS (
      SELECT user_id % 50 AS k, date_trunc('day', ts) AS snapshot_ts,
             MAX(event_type) AS etype
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT k, snapshot_ts, etype,
             CASE WHEN lag(etype) OVER w IS DISTINCT FROM etype
                  THEN 1 ELSE 0 END AS chg
      FROM s WINDOW w AS (PARTITION BY k ORDER BY snapshot_ts)
    ),
    r AS (
      SELECT k, snapshot_ts, etype,
             SUM(chg) OVER (PARTITION BY k ORDER BY snapshot_ts
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM v
    ),
    pv AS (
      SELECT k, ver, MIN(etype) AS etype,
             MIN(snapshot_ts) AS valid_from
      FROM r GROUP BY k, ver
    )
    SELECT CAST(k AS BIGINT) AS k, etype, valid_from,
           COALESCE(LEAD(valid_from) OVER (PARTITION BY k ORDER BY ver),
                    TIMESTAMP '2200-01-01 00:00:00') AS valid_to
    FROM pv ORDER BY k, valid_from
    """,
    "SCD2 dimension history from periodic snapshots "
    "(operators/scd.py::scd2_from_snapshots): per-key daily attribute "
    "snapshots collapse into validity intervals — change detection is "
    "null-safe (IS DISTINCT FROM / eqNullSafe), valid_to = next "
    "version's valid_from or the open-interval sentinel; the informer "
    "dim history a labeler replay needs (as_of_dimension reads it)",
)
def q275(spark, sf_dir):
    from kubenetmon_spark.operators.scd import scd2_from_snapshots

    ev = _t(spark, sf_dir, "events")
    snaps = ev.groupBy(
        (F.col("user_id") % 50).alias("k"),
        F.date_trunc("day", F.col("ts")).alias("snapshot_ts"),
    ).agg(F.max("event_type").alias("etype"))
    return scd2_from_snapshots(snaps, ["k"], ["etype"]).orderBy(
        "k", "valid_from"
    )


@_register(
    "q281_ivf_index_search",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROUND({_DOT.format(a='e.embedding', b='c.cv')}, 6) AS cscore
      FROM embeddings e, c
    ),
    asn AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
      FROM scored
    ),
    probes AS (
      SELECT c.cid FROM q, c
      ORDER BY ROUND({_DOT.format(a='q.qv', b='c.cv')}, 6) DESC, c.cid ASC
      LIMIT 4
    )
    SELECT a.vec_id, ROUND({_DOT.format(a='a.embedding', b='q.qv')}, 4) AS score
    FROM asn a JOIN probes p ON a.cid = p.cid, q
    WHERE a.rn = 1
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """,
    "PERSISTED IVF index search (operators/similarity.py::"
    "build_ivf_index + ivf_search): the q28 inline IVF split into its "
    "production halves — assignments written parquet-partitioned BY "
    "centroid once, then the probe reads ONLY its n_probe centroid "
    "directories (PartitionFilters plan-asserted in test_plans.py); "
    "identical results to the inline form and the q28 oracle",
)
def q281(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.operators.similarity import build_ivf_index, ivf_search

    e = _t(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="gate_ivf_")
    build_ivf_index(e, tmp, n_centroids=16)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivf_search(spark, tmp, q, k=10, n_probe=4)


@_register(
    "q282_ivf_search_many",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN (0, 7)),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROUND({_DOT.format(a='e.embedding', b='c.cv')}, 6) AS cscore
      FROM embeddings e, c
    ),
    asn AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
      FROM scored
    ),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY ROUND({_DOT.format(a='q.qv', b='c.cv')}, 6) DESC,
                          c.cid ASC) AS prn
        FROM q, c
      ) t WHERE prn <= 4
    )
    SELECT qid, vec_id, score FROM (
      SELECT q.qid, a.vec_id,
             ROUND({_DOT.format(a='a.embedding', b='q.qv')}, 4) AS score,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY ROUND({_DOT.format(a='a.embedding', b='q.qv')}, 4) DESC,
                        a.vec_id ASC) AS krn
      FROM asn a JOIN probes p ON a.cid = p.cid JOIN q ON q.qid = p.qid
      WHERE a.rn = 1
    ) s WHERE krn <= 10
    ORDER BY qid, score DESC, vec_id
    """,
    "batched persisted-IVF search (operators/similarity.py::"
    "ivf_search_many): many queries, ONE pruned scan — per-query "
    "probes rank distributed, only the deduped probe-id union (<= "
    "n_probe x n_queries scalars) collects to drive PartitionFilters, "
    "the query batch broadcasts onto the pruned scan, one window "
    "takes top-k per query",
)
def q282(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.operators.similarity import (
        build_ivf_index,
        ivf_search_many,
    )

    e = _t(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="gate_ivfm_")
    build_ivf_index(e, tmp, n_centroids=16)
    qs = e.filter(F.col("vec_id").isin(0, 7)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return ivf_search_many(spark, tmp, qs, k=10, n_probe=4).orderBy(
        "qid", F.desc("score"), "vec_id"
    )


@_register(
    "q280_interpolate_linear",
    """
    WITH s AS (
      SELECT user_id % 5 AS k, CAST(day(ts) AS BIGINT) AS x, COUNT(*) AS y
      FROM events WHERE day(ts) % 3 <> 0 GROUP BY 1, 2
    ),
    grid AS (
      SELECT ks.k, xs.x
      FROM (SELECT DISTINCT user_id % 5 AS k FROM events) ks
      CROSS JOIN (SELECT CAST(range AS BIGINT) + 1 AS x FROM range(30)) xs
    ),
    g AS (
      SELECT grid.k, grid.x, s.y
      FROM grid LEFT JOIN s ON s.k = grid.k AND s.x = grid.x
    ),
    w AS (
      SELECT k, x, y,
        last_value(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS)
          OVER pw AS px,
        last_value(CASE WHEN y IS NOT NULL THEN y END IGNORE NULLS)
          OVER pw AS py,
        first_value(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS)
          OVER nw AS nx,
        first_value(CASE WHEN y IS NOT NULL THEN y END IGNORE NULLS)
          OVER nw AS ny
      FROM g
      WINDOW pw AS (PARTITION BY k ORDER BY x ROWS UNBOUNDED PRECEDING),
             nw AS (PARTITION BY k ORDER BY x
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT k, x,
           CASE WHEN y IS NOT NULL THEN y
                WHEN px IS NOT NULL AND nx IS NOT NULL AND nx <> px
                THEN py + CAST(floor(CAST((ny - py) * (x - px) AS DOUBLE)
                                     / (nx - px)) AS BIGINT)
           END AS y_filled
    FROM w ORDER BY k, x
    """,
    "linear gap interpolation over a densified axis "
    "(operators/timeseries.py::interpolate_linear) — the INTERPOLATE "
    "member of the WITH FILL family: every 3rd day is removed from a "
    "per-key daily count series, the grid re-densifies it, and nulls "
    "fill with exact-integer floor((next-prev)*(x-px)/(nx-px)) between "
    "anchors; leading/trailing gaps stay null; one shuffle + one "
    "shared sort per key",
)
def q280(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import interpolate_linear

    ev = _t(spark, sf_dir, "events")
    sparse = (
        ev.filter(F.dayofmonth("ts") % 3 != 0)
        .groupBy(
            (F.col("user_id") % 5).alias("k"),
            F.dayofmonth("ts").cast("long").alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    grid = (
        ev.select((F.col("user_id") % 5).alias("k"))
        .distinct()
        .crossJoin(
            spark.range(1, 31).select(F.col("id").alias("x"))
        )
    )
    g = grid.join(sparse, ["k", "x"], "left")
    return (
        interpolate_linear(g, ["k"], "x", "y")
        .select("k", "x", "y_filled")
        .orderBy("k", "x")
    )


@_register(
    "q279_minhash_dedup_incremental",
    f"""
    WITH {_MINHASH_PAIRS_SQL}
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_2 = d.doc_id)
    ORDER BY d.doc_id
    """,
    "incremental crawl-feed near-dup dedup "
    "(operators/dedup.py::minhash_dedup_incremental): each batch "
    "band-joins a persisted survivor index, exact-verifies candidates "
    "only, appends survivors' bands+docs — the corpus is never "
    "re-shingled; cold-start single-batch semantics = drop any doc "
    "with a verified smaller-id match, which is q23's pair list as an "
    "anti-join (the oracle); the multi-batch path matches a sequential "
    "survivor-index spec (test_dedup_incremental.py)",
)
def q279(spark, sf_dir):
    from kubenetmon_spark.operators.dedup import minhash_dedup_incremental

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    survivors, _, _ = minhash_dedup_incremental(
        d, None, None, "doc_id", "text",
        num_hashes=8, bands=4, n=3, verify_threshold_bp=3000,
    )
    return survivors.select("doc_id").orderBy("doc_id")


@_register(
    "q278_stratified_sample",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 7
    ORDER BY lang, source, doc_id
    """,
    "exact per-stratum quota sampling "
    "(operators/sampling.py::stratified_sample_exact): the n smallest "
    "md5(id) per (lang, source) stratum — an absolute quota, not a "
    "rate, deterministic across runs/engines/partitionings; the "
    "bounded build folds per-partition bottom-n BEFORE the stratum "
    "sort so a billion-row stratum shuffles n x partitions rows, "
    "bit-identical to the unbounded window (balanced eval-set draw "
    "for training pipelines)",
)
def q278(spark, sf_dir):
    from kubenetmon_spark.operators.sampling import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample_exact(
        docs, ["lang", "source"], 7, "doc_id"
    ).orderBy("lang", "source", "doc_id")


@_register(
    "q277_scd2_incremental",
    """
    WITH s AS (
      SELECT user_id % 50 AS k, date_trunc('day', ts) AS snapshot_ts,
             MAX(event_type) AS etype
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT k, snapshot_ts, etype,
             CASE WHEN lag(etype) OVER w IS DISTINCT FROM etype
                  THEN 1 ELSE 0 END AS chg
      FROM s WINDOW w AS (PARTITION BY k ORDER BY snapshot_ts)
    ),
    r AS (
      SELECT k, snapshot_ts, etype,
             SUM(chg) OVER (PARTITION BY k ORDER BY snapshot_ts
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM v
    ),
    pv AS (
      SELECT k, ver, MIN(etype) AS etype,
             MIN(snapshot_ts) AS valid_from
      FROM r GROUP BY k, ver
    )
    SELECT CAST(k AS BIGINT) AS k, etype, valid_from,
           COALESCE(LEAD(valid_from) OVER (PARTITION BY k ORDER BY ver),
                    TIMESTAMP '2200-01-01 00:00:00') AS valid_to
    FROM pv ORDER BY k, valid_from
    """,
    "incremental SCD2 maintenance "
    "(operators/scd.py::scd2_apply_batch): fold the second half-month "
    "of snapshots into the SCD2 table built from the first half — "
    "closed history and untouched keys pass through unshuffled, so a "
    "refresh costs O(batch), not O(history); result must equal the "
    "full-history rebuild (oracle = q275's whole-range collapse)",
)
def q277(spark, sf_dir):
    from kubenetmon_spark.operators.scd import (
        scd2_apply_batch,
        scd2_from_snapshots,
    )

    ev = _t(spark, sf_dir, "events")
    snaps = ev.groupBy(
        (F.col("user_id") % 50).alias("k"),
        F.date_trunc("day", F.col("ts")).alias("snapshot_ts"),
    ).agg(F.max("event_type").alias("etype"))
    base = scd2_from_snapshots(
        snaps.filter(F.dayofmonth("snapshot_ts") <= 15), ["k"], ["etype"]
    )
    rest = snaps.filter(F.dayofmonth("snapshot_ts") > 15)
    return scd2_apply_batch(base, rest, ["k"], ["etype"]).orderBy(
        "k", "valid_from"
    )


@_register(
    "q276_asof_dimension_replay",
    """
    WITH s AS (
      SELECT user_id % 50 AS k, date_trunc('day', ts) AS snapshot_ts,
             MAX(event_type) AS etype
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT k, snapshot_ts, etype,
             CASE WHEN lag(etype) OVER w IS DISTINCT FROM etype
                  THEN 1 ELSE 0 END AS chg
      FROM s WINDOW w AS (PARTITION BY k ORDER BY snapshot_ts)
    ),
    r AS (
      SELECT k, snapshot_ts, etype,
             SUM(chg) OVER (PARTITION BY k ORDER BY snapshot_ts
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM v
    ),
    pv AS (
      SELECT k, ver, MIN(etype) AS etype,
             MIN(snapshot_ts) AS valid_from
      FROM r GROUP BY k, ver
    ),
    scd AS (
      SELECT k, etype, valid_from,
             COALESCE(LEAD(valid_from) OVER (PARTITION BY k ORDER BY ver),
                      TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      FROM pv
    ),
    dim AS (
      SELECT CAST(k AS BIGINT) AS k, etype AS dim_etype FROM scd
      WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
        AND TIMESTAMP '2024-01-15 12:00:00' < valid_to
    )
    SELECT dim_etype, COUNT(*) AS n_facts,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN dim ON e.user_id % 50 = dim.k
    WHERE date_trunc('day', e.ts) = TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY dim_etype ORDER BY dim_etype
    """,
    "as-of dimension replay (operators/scd.py::as_of_dimension): "
    "reconstruct the dimension exactly as it stood at an instant from "
    "SCD2 intervals, then broadcast-label one day of facts with it — "
    "the history-reprocessing join the reference cannot do (its "
    "informer cache only knows 'now'; reference "
    "pkg/watcher/watcher.go:52-120)",
)
def q276(spark, sf_dir):
    from kubenetmon_spark.operators.scd import (
        as_of_dimension,
        scd2_from_snapshots,
    )

    ev = _t(spark, sf_dir, "events")
    snaps = ev.groupBy(
        (F.col("user_id") % 50).alias("k"),
        F.date_trunc("day", F.col("ts")).alias("snapshot_ts"),
    ).agg(F.max("event_type").alias("etype"))
    dim = as_of_dimension(
        scd2_from_snapshots(snaps, ["k"], ["etype"]),
        "2024-01-15 12:00:00",
    ).withColumnRenamed("etype", "dim_etype")
    facts = ev.filter(
        F.date_trunc("day", F.col("ts"))
        == F.lit("2024-01-15 00:00:00").cast("timestamp")
    ).withColumn("k", F.col("user_id") % 50)
    return (
        facts.join(F.broadcast(dim), "k")
        .groupBy("dim_etype")
        .agg(
            F.count("*").alias("n_facts"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("dim_etype")
    )


def _hll_oracle_sql(p: int) -> str:
    from kubenetmon_spark.operators.sketch import _HLL_BITS, _hll_alpha_e6

    m = 1 << p
    w = _HLL_BITS - p
    scale = 1 << (w + 1)
    num = _hll_alpha_e6(m) * m * m * scale
    # 13-hex-digit md5 prefix -> 52-bit integer, the q117 idiom
    hash_expr = (
        "list_sum(list_transform(range(1, 14), i -> "
        "(instr('0123456789abcdef', substring(md5(CAST(event_id AS VARCHAR)), "
        "i, 1)) - 1) * (16 ** (13 - i))::BIGINT))"
    )
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type, {hash_expr} AS h
      FROM events WHERE event_id IS NOT NULL
    ),
    r AS (
      SELECT event_type, h // {1 << w} AS b,
             CASE WHEN h % {1 << w} = 0 THEN {w + 1}
                  ELSE instr(lpad(bin(h % {1 << w}), {w}, '0'), '1') END AS rho
      FROM h
    ),
    regs AS (SELECT event_type, b, MAX(rho) AS rho FROM r GROUP BY event_type, b),
    agg AS (
      SELECT event_type, COUNT(*) AS n_regs, SUM({scale} >> rho) AS sum_pow
      FROM regs GROUP BY event_type
    )
    SELECT event_type,
           CAST({num}::HUGEINT //
                (CAST(sum_pow + ({m} - n_regs) * {scale} AS HUGEINT) * 1000000)
             AS BIGINT) AS n_distinct_est,
           CAST(n_regs AS BIGINT) AS n_regs
    FROM agg ORDER BY event_type
    """


@_register(
    "q283_hll_exact_merge",
    _hll_oracle_sql(8),
    "ENGINE-EXACT HyperLogLog (operators/sketch.py::hll_exact_state/"
    "hll_exact_merge): per-day mergeable register tables (top-8-bit "
    "bucket, first-1-bit rank over the shared 52-bit md5 hash) unioned "
    "into per-type distinct-event estimates with the raw Flajolet "
    "harmonic-mean estimator in PURE integer arithmetic (fixed-point "
    "2^-rho terms, 128-bit alpha numerator) — so unlike the library "
    "sketches of q56 (packed bytes differ per engine; its gate hashes "
    "accuracy-contract booleans instead), the "
    "DuckDB oracle reproduces registers AND estimates bit-for-bit: "
    "merging per-day MAX registers equals the global build. No "
    "small-range linear counting by design (ln() is not portable-"
    "exact); the small-cardinality regime is exact under KMV (q117)",
)
def q283(spark, sf_dir):
    from kubenetmon_spark.operators.sketch import hll_exact_merge, hll_exact_state

    ev = _t(spark, sf_dir, "events")
    daily = hll_exact_state(
        ev.withColumn("day", F.to_date("ts")),
        ["event_type", "day"],
        "event_id",
        p=8,
    )
    return hll_exact_merge(daily, ["event_type"], p=8).orderBy("event_type")


def _pii_oracle_sql() -> str:
    from kubenetmon_spark.operators.curation import PII_PATTERNS

    inject = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or 555-' || "
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' || "
        "CAST(doc_id % 256 AS VARCHAR) || '.0.1 card 4' || "
        "lpad(CAST(doc_id % 100000 AS VARCHAR), 15, '0')"
    )
    ctes = [
        "base AS (SELECT doc_id, source, "
        f"CASE WHEN doc_id % 3 < 2 THEN {inject} ELSE text END AS t0 "
        "FROM documents)"
    ]
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, source, "
            + "".join(f"n_{n}, " for n, _, _ in PII_PATTERNS[:i])
            + f"len(regexp_extract_all(t{i}, '{pat}')) AS n_{name}, "
            f"regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1} "
            f"FROM s{i})".replace("FROM s0", "FROM base")
        )
    last = len(PII_PATTERNS)
    sums = ", ".join(
        f"CAST(SUM(n_{n}) AS BIGINT) AS n_{n}" for n, _, _ in PII_PATTERNS
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT source, COUNT(*) AS n_docs, {sums}, "
        f"CAST(SUM(length(t{last})) AS BIGINT) AS sum_len_redacted "
        f"FROM s{last} GROUP BY source ORDER BY source"
    )


@_register(
    "q284_pii_redact",
    _pii_oracle_sql(),
    "PII redaction audit (operators/curation.py::redact_pii): "
    "deterministically inject email/phone/IPv4/card shapes into 2/3 of "
    "documents, scrub with the ordered JVM-side regex fold (no UDF, no "
    "shuffle — redaction rides the scan projection), and account for "
    "every replacement per source: per-type counts plus the redacted "
    "byte total, all reproduced verbatim by the oracle's identical "
    "pattern chain (Java-regex/RE2 shared subset). The release-review "
    "scrub stage the reference never needed (it ships flow metadata, "
    "not text — pkg/labeler/labeler.go)",
)
def q284(spark, sf_dir):
    from kubenetmon_spark.operators.curation import redact_pii

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 card 4"),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 15, "0"),
    )
    base = d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 3 < 2, injected).otherwise(F.col("text")).alias(
            "text"
        ),
    )
    red = redact_pii(base, "text", "redacted")
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_ssn").alias("n_ssn"),
            F.sum("n_phone").alias("n_phone"),
            F.sum("n_ipv4").alias("n_ipv4"),
            F.sum("n_number").alias("n_number"),
            F.sum(F.length("redacted")).alias("sum_len_redacted"),
        )
        .orderBy("source")
    )


@_register(
    "q285_cosine_dedup_incremental",
    f"""
    WITH b1 AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10
    ),
    b2 AS (
      -- bounded slice (q27's idiom): the oracle's in-batch all-pairs
      -- arm is quadratic in |b2|, so the gate fixes the batch size at
      -- every SF; unbounded-corpus evidence is the streaming scale
      -- tool (dedup_stream_scale.py --cosine), which needs no oracle
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id >= 250 AND vec_id < 2250
      UNION ALL
      SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id < 20
      UNION ALL
      SELECT vec_id + 30000, embedding FROM embeddings
      WHERE vec_id >= 250 AND vec_id < 260
    ),
    n1 AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM b1
    ),
    n2 AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM b2
    ),
    drop1 AS (
      SELECT DISTINCT b.vec_id FROM n1 a JOIN n1 b ON a.vec_id < b.vec_id
      WHERE CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                       / (a.nm * b.nm), 4) * 10000 AS BIGINT) >= 10000
    ),
    surv1 AS (
      SELECT * FROM n1 WHERE vec_id NOT IN (SELECT vec_id FROM drop1)
    ),
    drop2 AS (
      SELECT DISTINCT b.vec_id FROM surv1 a JOIN n2 b ON true
      WHERE CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                       / (a.nm * b.nm), 4) * 10000 AS BIGINT) >= 10000
      UNION
      SELECT DISTINCT b.vec_id FROM n2 a JOIN n2 b ON a.vec_id < b.vec_id
      WHERE CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                       / (a.nm * b.nm), 4) * 10000 AS BIGINT) >= 10000
    )
    SELECT 1 AS phase, vec_id FROM surv1
    UNION ALL
    SELECT 2 AS phase, vec_id FROM n2
    WHERE vec_id NOT IN (SELECT vec_id FROM drop2)
    ORDER BY phase, vec_id
    """,
    "incremental embedding near-dup dedup (operators/similarity.py::"
    "cosine_dedup_incremental; streamed form streaming/curation.py::"
    "start_cosine_dedup_stream): batch 1 builds the sign-LSH survivor "
    "index (planted +10000 copies drop in-batch), batch 2 dedups "
    "against the persisted index (+20000 copies of indexed survivors "
    "drop cross-batch, +30000 copies drop in-batch) without re-banding "
    "batch 1. Oracle-paired at the exact-duplicate threshold via the "
    "q273 argument: exact-direction pairs agree on every band key, so "
    "the LSH candidate set provably contains every qualifying pair and "
    "the drop sets match the oracle's all-pairs formulation exactly",
)
def q285(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import cosine_dedup_incremental

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = e.filter(F.col("vec_id") < 250).unionByName(
        e.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
    )
    b2 = (
        e.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 2250))
        .unionByName(
            e.filter(F.col("vec_id") < 20).select(
                (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            e.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 260)).select(
                (F.col("vec_id") + 30000).alias("vec_id"), "embedding"
            )
        )
    )
    surv1, idx_bands, idx_vecs = cosine_dedup_incremental(
        b1, None, None, threshold_bp=10000
    )
    # production (start_cosine_dedup_stream) persists the index to
    # parquet between batches; mirror that boundary so phase 2 reads
    # materialized phase-1 results instead of replaying its whole DAG
    surv1 = surv1.localCheckpoint(eager=True)
    idx_bands = idx_bands.localCheckpoint(eager=True)
    idx_vecs = idx_vecs.localCheckpoint(eager=True)
    surv2, _, _ = cosine_dedup_incremental(
        b2, idx_bands, idx_vecs, threshold_bp=10000
    )
    return (
        surv1.select(F.lit(1).alias("phase"), "vec_id")
        .unionByName(surv2.select(F.lit(2).alias("phase"), "vec_id"))
        .orderBy("phase", "vec_id")
    )


@_register(
    "q286_shard_pack_balanced",
    """
    WITH d AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rnk
      FROM d
    ), s AS (
      SELECT doc_id, n_tokens, rnk,
             CASE WHEN rnk % 16 < 8 THEN rnk % 16
                  ELSE 15 - rnk % 16 END AS shard
      FROM r
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MIN(rnk) AS BIGINT) AS min_rank,
           CAST(MAX(rnk) AS BIGINT) AS max_rank,
           MIN(doc_id) AS min_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
    "balanced N-shard training export (operators/curation.py::"
    "shard_pack_balanced, n=8): global rank by (tokens DESC, doc_id) "
    "dealt serpentine across shards — first-fit-decreasing balance "
    "without a driver loop. The rank is computed via range exchange + "
    "per-partition row_number + a partition-count prefix sum (the "
    "materialize-once idiom), never a single-partition window; the "
    "oracle replays the same strict total order with a flat "
    "ROW_NUMBER. Per-shard token sums agree exactly because the deal "
    "is a pure function of the rank",
)
def q286(spark, sf_dir):
    from kubenetmon_spark.operators.curation import shard_pack_balanced

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    packed = shard_pack_balanced(d, n_shards=8, token_col="n_tokens", id_col="doc_id")
    return (
        packed.groupBy(F.col("_shard").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("_rank").cast("bigint").alias("min_rank"),
            F.max("_rank").cast("bigint").alias("max_rank"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("shard")
    )


@_register(
    "q287_mixture_epochs",
    """
    WITH d AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), tot AS (
      SELECT source, SUM(n_tokens) AS n FROM d GROUP BY source
    ), plan AS (
      SELECT source, n,
             CASE source WHEN 'src0' THEN (5 * n) // 2
                         WHEN 'src1' THEN n // 3
                         WHEN 'src2' THEN 2 * n
                         WHEN 'src3' THEN 0
                         ELSE n END AS t
      FROM tot
    ), p AS (
      SELECT source, CAST(t // n AS BIGINT) AS _full,
             CAST(((t % n) * 10000) // n AS BIGINT) AS _frac_bp
      FROM plan WHERE t > 0
    ), x AS (
      SELECT d.doc_id, d.source, d.n_tokens, e.epoch, p._full, p._frac_bp
      FROM d JOIN p USING (source),
           LATERAL (SELECT unnest(generate_series(CAST(0 AS BIGINT),
                                                  p._full)) AS epoch) e
    )
    SELECT source, epoch, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM x
    WHERE epoch < _full
       OR substr(md5(doc_id || '|' || epoch), 1, 4) <
          printf('%04x', (_frac_bp * 65536) // 10000)
    GROUP BY source, epoch ORDER BY source, epoch
    """,
    "pretraining mixture epoching (operators/curation.py::"
    "mixture_epochs): per-source token targets expand to whole epochs "
    "plus an md5(id|epoch)-selected fractional epoch — the replication "
    "half of a data mix (temperature_rates_bp is the sampling half). "
    "Targets derived from the data exercise every branch: 2.5 epochs "
    "(src0), fraction-only (src1), exact whole multiple (src2), "
    "dropped (src3), identity (rest). Plan is a per-stratum scalar "
    "collect; the expansion is a broadcast join + sequence explode "
    "with no fact-side shuffle",
)
def q287(spark, sf_dir):
    from kubenetmon_spark.operators.curation import mixture_epochs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    totals = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.sum("n_tokens").alias("n")).collect()
    }
    targets = {}
    for s, n in totals.items():
        if s == "src0":
            targets[s] = (5 * n) // 2
        elif s == "src1":
            targets[s] = n // 3
        elif s == "src2":
            targets[s] = 2 * n
        elif s == "src3":
            targets[s] = 0
        else:
            targets[s] = n
    out = mixture_epochs(d, targets, "n_tokens", "source", "doc_id")
    return (
        out.groupBy("source", "epoch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "epoch")
    )


@_register(
    "q288_ivf_index_append",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROUND({_DOT.format(a='e.embedding', b='c.cv')}, 6) AS cscore
      FROM embeddings e, c
    ),
    asn AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cid ASC) AS rn
      FROM scored
    ),
    probes AS (
      SELECT c.cid FROM q, c
      ORDER BY ROUND({_DOT.format(a='q.qv', b='c.cv')}, 6) DESC, c.cid ASC
      LIMIT 4
    )
    SELECT a.vec_id, ROUND({_DOT.format(a='a.embedding', b='q.qv')}, 4) AS score
    FROM asn a JOIN probes p ON a.cid = p.cid, q
    WHERE a.rn = 1
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """,
    "incremental IVF index maintenance (operators/similarity.py::"
    "ivf_index_append): build the persisted index on vec_id < 300, "
    "append the rest of the corpus as a second batch against the FIXED "
    "centroids, then search — results must equal a fresh full-corpus "
    "build (the oracle is the full-table IVF formulation), because "
    "assignment is a pure function of (vector, centroids) and the "
    "append touches only the new batch (O(batch), corpus never "
    "rescanned)",
)
def q288(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_search,
    )

    e = _t(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="gate_ivf_app_")
    build_ivf_index(e.filter(F.col("vec_id") < 300), tmp, n_centroids=16)
    ivf_index_append(spark, tmp, e.filter(F.col("vec_id") >= 300))
    q = e.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    return ivf_search(spark, tmp, q, k=10, n_probe=4)


@_register(
    "q289_export_pipeline",
    """
    WITH d AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), k AS (
      SELECT * FROM d WHERE n_tokens >= 20
    ), g AS (
      SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS keep_id
      FROM k GROUP BY fp
    ), u AS (
      SELECT k.doc_id, k.source, k.n_tokens
      FROM k JOIN g ON k.doc_id = g.keep_id
    ), tot AS (
      SELECT source, SUM(n_tokens) AS n FROM u GROUP BY source
    ), p AS (
      SELECT source,
             CAST(((3 * n) // 2) // n AS BIGINT) AS _full,
             CAST((((3 * n) // 2) % n) * 10000 // n AS BIGINT) AS _frac_bp
      FROM tot WHERE n > 0
    ), x AS (
      SELECT u.doc_id, u.n_tokens, e.epoch, p._full, p._frac_bp
      FROM u JOIN p USING (source),
           LATERAL (SELECT unnest(generate_series(CAST(0 AS BIGINT),
                                                  p._full)) AS epoch) e
    ), ep AS (
      SELECT doc_id * 8 + epoch AS uid, n_tokens FROM x
      WHERE epoch < _full
         OR substr(md5(doc_id || '|' || epoch), 1, 4) <
            printf('%04x', (_frac_bp * 65536) // 10000)
    ), r AS (
      SELECT uid, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, uid) - 1 AS rnk
      FROM ep
    )
    SELECT CAST(CASE WHEN rnk % 8 < 4 THEN rnk % 8
                     ELSE 7 - rnk % 8 END AS INTEGER) AS shard,
           COUNT(*) AS n_rows,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MIN(uid) AS BIGINT) AS min_uid,
           CAST(MAX(uid) AS BIGINT) AS max_uid
    FROM r GROUP BY shard ORDER BY shard
    """,
    "end-to-end training-data EXPORT pipeline: token-length quality "
    "gate -> exact dedup (normalized-fingerprint min-id survivor) -> "
    "1.5-epoch mixture replication (post-dedup per-source token "
    "targets) -> balanced 4-shard serpentine export — four operators "
    "(drop_exact_duplicates, mixture_epochs, shard_pack_balanced) "
    "composed and hash-matched as ONE oracle chain, proving the "
    "intermediate contracts line up (ids -> (doc,epoch) uids -> global "
    "rank) with no fact-side shuffle until the export's own shard "
    "exchange",
)
def q289(spark, sf_dir):
    from kubenetmon_spark.operators.curation import (
        mixture_epochs,
        shard_pack_balanced,
    )
    from kubenetmon_spark.operators.dedup import drop_exact_duplicates

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    kept = d.filter(F.col("n_tokens") >= 20)
    # the slim post-dedup frame feeds two jobs (the totals collect and
    # the pack chain's materialization) — checkpoint it once so the
    # scan + fingerprint-dedup chain runs once, not per consumer (r7;
    # the q235 multi-consumer precedent)
    uniq = (
        drop_exact_duplicates(kept, "doc_id", "text")
        .select("doc_id", "source", "n_tokens")
        .localCheckpoint(eager=True)
    )
    totals = {
        r["source"]: r["n"]
        for r in uniq.groupBy("source").agg(F.sum("n_tokens").alias("n")).collect()
    }
    targets = {s: (3 * n) // 2 for s, n in totals.items()}
    ep = mixture_epochs(uniq, targets, "n_tokens", "source", "doc_id").select(
        (F.col("doc_id") * 8 + F.col("epoch")).alias("uid"), "n_tokens"
    )
    packed = shard_pack_balanced(ep, n_shards=4, token_col="n_tokens", id_col="uid")
    return (
        packed.groupBy(F.col("_shard").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("uid").cast("bigint").alias("min_uid"),
            F.max("uid").cast("bigint").alias("max_uid"),
        )
        .orderBy("shard")
    )


@_register(
    "q290_cusum_changepoint",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, hr, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS idx,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS cum,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cnt) OVER (PARTITION BY event_type) AS t
      FROM h
    ), d AS (
      SELECT event_type, hr, idx, n,
             ABS(CAST(n AS HUGEINT) * cum - CAST(idx AS HUGEINT) * t)
               AS dev
      FROM s
    ), best AS (
      SELECT event_type, idx, hr, dev, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY dev DESC, idx) AS rk
      FROM d
    )
    SELECT event_type, CAST(idx AS BIGINT) AS cp_idx, hr AS cp_hr,
           CAST(dev AS VARCHAR) AS max_abs_dev,
           CAST(n AS BIGINT) AS n_points
    FROM best WHERE rk = 1 ORDER BY event_type
    """,
    "CUSUM changepoint per event-type hourly series (operators/"
    "timeseries.py::cusum_changepoint): argmax |n*cum_i - i*T| in "
    "exact integers (the q195 multiply-through idiom — no mean "
    "division, no float wobble), ties to the earliest index. One "
    "fact-scale hourly agg; all CUSUM windows share one (series, hr) "
    "sort over the post-agg series table",
)
def q290(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    return cusum_changepoint(hourly, "event_type", "hr", "cnt").select(
        "event_type",
        F.col("cp_idx").cast("bigint").alias("cp_idx"),
        F.col("cp_hr"),
        F.col("max_abs_dev").cast("string").alias("max_abs_dev"),
        F.col("n_points").cast("bigint").alias("n_points"),
    )


@_register(
    "q291_time_decayed_sum",
    """
    WITH o AS (
      SELECT user_id,
             ((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 100000)
              + 100000) % 100000 AS x,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, event_id
      FROM events
    ), d AS (
      SELECT user_id, t, event_id, x,
             LEAST(COALESCE(
               (t - LAG(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id)) // 3600, 0), 63)
               AS dd
      FROM o
    ), p AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             list(x * 64 + dd ORDER BY t, event_id) AS l
      FROM d GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(list_reduce(
             l, (a, b) -> (((a // 64) >> (b % 64)) + b // 64) * 64
           ) // 64 AS BIGINT) AS decayed_sum
    FROM p ORDER BY user_id
    """,
    "ClickHouse exponentialTimeDecayedSum analogue (operators/"
    "timeseries.py::time_decayed_sum): decay by WALL TIME between "
    "events — one floor-halving per elapsed tau=3600s, shift capped at "
    "63 (Java wraps long shifts at 64, DuckDB saturates; both agree "
    "below 63) — vs q90's row-order EMA. Integer shifts end-to-end, "
    "bit-identical across engines; the oracle folds the same recurrence "
    "with values packed as x*64+d through DuckDB's single-type "
    "list_reduce",
)
def q291(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import time_decayed_sum

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.pmod(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            F.lit(100000),
        ).alias("x"),
    )
    return time_decayed_sum(
        o, ["user_id"], "ts", "event_id", "x", tau_s=3600
    )


@_register(
    "q292_time_decayed_max",
    """
    WITH o AS (
      SELECT user_id,
             ((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 100000)
              + 100000) % 100000 AS x,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, event_id
      FROM events
    ), d AS (
      SELECT user_id, t, event_id, x,
             LEAST(COALESCE(
               (t - LAG(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id)) // 3600, 0), 63)
               AS dd
      FROM o
    ), p AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             list(x * 64 + dd ORDER BY t, event_id) AS l
      FROM d GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(list_reduce(
             l, (a, b) -> GREATEST((a // 64) >> (b % 64), b // 64) * 64
           ) // 64 AS BIGINT) AS decayed_max
    FROM p ORDER BY user_id
    """,
    "ClickHouse exponentialTimeDecayedMax analogue (operators/"
    "timeseries.py::time_decayed_max): peak detection where old peaks "
    "fade by half per elapsed tau=3600s instead of masking newer "
    "smaller spikes forever — the alerting twin of q291's decayed sum, "
    "same packed integer fold, GREATEST in place of +",
)
def q292(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import time_decayed_max

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.pmod(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            F.lit(100000),
        ).alias("x"),
    )
    return time_decayed_max(
        o, ["user_id"], "ts", "event_id", "x", tau_s=3600
    )


@_register(
    "q293_blast_radius",
    """
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS s,
             's' || CAST(l.l_suppkey AS VARCHAR) AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), sym AS MATERIALIZED (
      SELECT s, d FROM e UNION SELECT d, s FROM e
    ), r AS (
      SELECT 's1' AS node, 0 AS hops
      UNION
      SELECT sym.d, r.hops + 1
      FROM r JOIN sym ON sym.s = r.node
      WHERE r.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM r GROUP BY node ORDER BY hops, node
    """,
    "k-hop blast radius (operators/graph.py::k_hop_reachability): "
    "level-synchronous BFS with min hop distance over the undirected "
    "customer-supplier trade graph, seeded at supplier 1, k=3 — the "
    "'which services are within k hops of this pod' read over flow "
    "(local, remote) pairs. Spark: one frontier-join + anti-join per "
    "level, lineage cut per level, driver sees only emptiness scalars; "
    "oracle: DuckDB recursive CTE (UNION-dedup'd, hop-capped) + MIN",
)
def q293(spark, sf_dir):
    from kubenetmon_spark.operators.graph import k_hop_reachability

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # Dedup on the two INT keys before building node strings: the
    # distinct shuffle moves 16 bytes/row instead of two ~8-char
    # strings (guide §2.3 narrower types), and concat on distinct int
    # pairs is injective so the string edge set is identical.
    e = (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "s"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "d"
            ),
        )
    )
    # No .distinct() on the union: e is already distinct and every
    # forward edge starts 'c'/ends 's' while every reversed edge starts
    # 's'/ends 'c', so the two halves cannot collide — which also
    # proves the union duplicate-free (edges_are_distinct below), so
    # the operator skips its defensive full-width string dedup.
    sym = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    seeds = _local_df(spark, [("s1",)], "node string")
    return (
        k_hop_reachability(sym, "s", "d", seeds, k=3, edges_are_distinct=True)
        .select("node", F.col("hops").cast("bigint").alias("hops"))
        .orderBy("hops", "node")
    )


@_register(
    "q294_temporal_reachability",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS s,
             's' || CAST(l.l_suppkey AS VARCHAR) AS d,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o.o_orderdate AS DATE)) AS BIGINT)
               * 86400 AS ts
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), sym AS MATERIALIZED (
      SELECT s, d, ts FROM e UNION SELECT d, s, ts FROM e
    ), a0(node, arrival) AS (VALUES ('c1', CAST(0 AS BIGINT))),
    a1 AS MATERIALIZED (
      SELECT node, MIN(arrival) AS arrival FROM (
        SELECT node, arrival FROM a0
        UNION ALL
        SELECT sym.d, sym.ts FROM a0
        JOIN sym ON sym.s = a0.node AND sym.ts >= a0.arrival
      ) GROUP BY node
    ), a2 AS MATERIALIZED (
      SELECT node, MIN(arrival) AS arrival FROM (
        SELECT node, arrival FROM a1
        UNION ALL
        SELECT sym.d, sym.ts FROM a1
        JOIN sym ON sym.s = a1.node AND sym.ts >= a1.arrival
      ) GROUP BY node
    ), a3 AS MATERIALIZED (
      SELECT node, MIN(arrival) AS arrival FROM (
        SELECT node, arrival FROM a2
        UNION ALL
        SELECT sym.d, sym.ts FROM a2
        JOIN sym ON sym.s = a2.node AND sym.ts >= a2.arrival
      ) GROUP BY node
    )
    SELECT node, arrival FROM a3 ORDER BY arrival, node
    """,
    "Time-respecting reachability / taint spread (operators/graph.py::"
    "temporal_reachability): earliest arrival at each node along paths "
    "whose edge timestamps never decrease — 'what could data from X "
    "at t0 have reached, and when' — 3 Bellman-Ford relaxations over "
    "the day-stamped trade graph seeded at customer 1. Min-arrival "
    "per node is lossless state (earlier arrival enables a superset "
    "of onward edges), keeping state O(nodes) not O(paths); the "
    "oracle unrolls the identical relaxation as a MATERIALIZED CTE "
    "chain. Day epochs via unix_date*86400 on both engines — "
    "timezone-free",
)
def q294(spark, sf_dir):
    from kubenetmon_spark.operators.graph import temporal_reachability

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # Same narrow-key dedup as q293: distinct over (int, int, long)
    # instead of (string, string, long); concat on distinct key tuples
    # is injective so the edge set is unchanged, and the 'c'/'s'
    # prefixes make the symmetric union duplicate-free — the operator
    # skips its defensive string-width dedup (edges_are_distinct).
    e = (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .select(
            "o_custkey",
            "l_suppkey",
            (F.unix_date(F.col("o_orderdate").cast("date")) * 86400)
            .cast("long")
            .alias("ts"),
        )
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "s"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "d"
            ),
            "ts",
        )
    )
    sym = e.unionByName(
        e.select(
            F.col("d").alias("s"), F.col("s").alias("d"), F.col("ts")
        )
    )
    seeds = _local_df(spark, [("c1", 0)], "node string, arrival long")
    return (
        temporal_reachability(
            sym, "s", "d", "ts", seeds, rounds=3, edges_are_distinct=True
        )
        .select("node", F.col("arrival").cast("bigint").alias("arrival"))
        .orderBy("arrival", "node")
    )


@_register(
    "q295_anova",
    """
    WITH o AS (
      SELECT event_type,
             CAST(((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    % 100000) + 100000) % 100000 AS HUGEINT) AS x
      FROM events
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS ng,
             SUM(x) AS sg, SUM(x * x) AS qg
      FROM o GROUP BY event_type
    ), t AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(ng) AS n, SUM(sg) AS s,
             SUM((ng * qg - sg * sg) // ng) AS ssw,
             SUM((sg * sg) // ng) AS sb
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST((n * sb - s * s) // n AS VARCHAR) AS ssb,
           CAST(ssw AS VARCHAR) AS ssw,
           CAST((((n * sb - s * s) // n) * (n - k) * 10000)
                // (ssw * (k - 1)) AS BIGINT) AS f_bp
    FROM t
    """,
    "One-way ANOVA (ClickHouse analysisOfVariance) over per-event-type "
    "values, engine-exact: integer group moments with floor division "
    "only at ANOVA's two real divisions (operators/stats.py::"
    "anova_exact — the q196/q274 integer-surrogate idiom); SSB/SSW "
    "hashed as exact integer strings, F in basis points. All "
    "quantities non-negative so div==floor on both engines",
)
def q295(spark, sf_dir):
    from kubenetmon_spark.operators.stats import anova_exact

    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.pmod(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            F.lit(100000),
        ).alias("x"),
    )
    return anova_exact(o, "event_type", "x")


@_register(
    "q296_bounding_ratio",
    """
    WITH o AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT f.event_type,
           CAST(l.y - f.y AS VARCHAR) AS dy,
           CAST(l.t - f.t AS BIGINT) AS dt,
           CAST(((l.y - f.y) * 10000) // NULLIF(l.t - f.t, 0) AS BIGINT)
             AS slope_bp
    FROM o f JOIN o l ON f.event_type = l.event_type
    WHERE f.rn_a = 1 AND l.rn_d = 1
    ORDER BY f.event_type
    """,
    "ClickHouse boundingRatio: slope between the chronologically first "
    "and last point of each series, exact integers — dy hashed as an "
    "integer string (signed), slope in basis points via integral "
    "division (Spark div and DuckDB // BOTH truncate toward zero, so "
    "negative slopes agree; it's Python's floor // that differs). "
    "(ts, event_id) tiebreak makes first/last deterministic. Spark "
    "computes both endpoints in ONE aggregation via min_by/max_by over "
    "the (t, event_id) struct — no window, no self-join",
)
def q296(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_type",
        F.col("ts").cast("long").alias("t"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    key = F.struct(F.col("t"), F.col("event_id"))
    g = o.groupBy("event_type").agg(
        F.min_by(F.struct("y", "t"), key).alias("_f"),
        F.max_by(F.struct("y", "t"), key).alias("_l"),
    )
    return (
        g.select(
            "event_type",
            (F.col("_l.y") - F.col("_f.y")).alias("_dy"),
            (F.col("_l.t") - F.col("_f.t")).cast("bigint").alias("dt"),
        )
        .select(
            "event_type",
            F.col("_dy").cast("string").alias("dy"),
            "dt",
            F.expr("(_dy * 10000) div nullif(dt, 0)")
            .cast("bigint")
            .alias("slope_bp"),
        )
        .orderBy("event_type")
    )


@_register(
    "q297_skip_index_scan",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS value_e2
    FROM events
    WHERE user_id = 7
    GROUP BY event_type
    ORDER BY event_type
    """,
    "ClickHouse data-skipping indexes (MergeTree INDEX ... TYPE minmax/"
    "set(N)/bloom_filter) re-expressed with the parquet FILE as granule "
    "(operators/skipindex.py): the gate rewrites events into 16 "
    "range-clustered files, builds all three index kinds on user_id, "
    "and answers a needle point-lookup through read_indexed — the gate "
    "body asserts the indexed scan opened STRICTLY fewer files than the "
    "table has, and the oracle proves pruning never changed the answer "
    "(an index may only prove absence). Build is one distributed scan; "
    "probe collects qualifying file names only — the ClickHouse "
    "part-list memory shape",
)
def q297(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.operators.skipindex import (
        IndexSpec,
        build_skip_index,
        read_indexed,
    )

    tmp = tempfile.mkdtemp(prefix="gate_skipidx_")
    tbl, idx = tmp + "/events", tmp + "/idx"
    ev = _t(spark, sf_dir, "events")
    ev.repartitionByRange(16, "user_id").write.parquet(tbl)
    build_skip_index(
        spark,
        tbl,
        [
            IndexSpec("user_id", "minmax"),
            IndexSpec("user_id", "bloom", bits=4096, hashes=3),
            IndexSpec("user_id", "set", max_values=64),
        ],
        idx,
    )
    df = read_indexed(spark, tbl, idx, [("user_id", "eq", 7)])
    n_total = len(spark.read.parquet(tbl).inputFiles())
    n_kept = len(df.inputFiles())
    if not n_kept < n_total:
        raise AssertionError(
            f"skip index pruned nothing ({n_kept}/{n_total} files)"
        )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.col("value").cast(DEC2) * 100))
            .cast("bigint")
            .alias("value_e2"),
        )
        .orderBy("event_type")
    )


@_register(
    "q298_token_search_indexed",
    """
    SELECT doc_id, lang,
           CAST(len(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t = 'dup')) AS BIGINT) AS n_hits
    FROM documents
    WHERE list_contains(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        'dup')
      AND list_contains(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        'vector')
    ORDER BY doc_id
    """,
    "ClickHouse tokenbf_v1 skip index + hasToken: a two-token AND "
    "search over documents.text served through a per-file token bloom "
    "filter (operators/skipindex.py) — all grams of both tokens must "
    "be present for a file to survive pruning, then the REAL "
    "tokenized predicate re-evaluates on the kept files so bloom "
    "false positives never escape. Token alphabet [a-z0-9] matches "
    "ClickHouse's tokenbf tokenizer on lowered text",
)
def q298(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.operators.skipindex import (
        IndexSpec,
        build_skip_index,
        read_indexed,
    )

    tmp = tempfile.mkdtemp(prefix="gate_tokenbf_")
    tbl, idx = tmp + "/documents", tmp + "/idx"
    docs = _t(spark, sf_dir, "documents")
    docs.repartition(8, "doc_id").write.parquet(tbl)
    build_skip_index(
        spark, tbl, [IndexSpec("text", "tokenbf", bits=16384, hashes=3)], idx
    )
    df = read_indexed(
        spark,
        tbl,
        idx,
        [("text", "has_token", "dup"), ("text", "has_token", "vector")],
    )
    toks = F.split(F.lower("text"), "[^a-z0-9]+")
    return (
        df.select(
            "doc_id",
            "lang",
            F.size(F.filter(toks, lambda t: t == F.lit("dup")))
            .cast("bigint")
            .alias("n_hits"),
        )
        .orderBy("doc_id")
    )


@_register(
    "q299_time_decayed_count_avg",
    """
    WITH o AS (
      SELECT user_id,
             ((CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 100000)
              + 100000) % 100000 AS x,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, event_id
      FROM events
    ), d AS (
      SELECT user_id, t, event_id, x,
             LEAST(COALESCE(
               (t - LAG(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id)) // 3600, 0), 63)
               AS dd
      FROM o
    ), p AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             list(x * 64 + dd ORDER BY t, event_id) AS ls,
             list(1 * 64 + dd ORDER BY t, event_id) AS lc
      FROM d GROUP BY user_id
    ), r AS (
      SELECT user_id, n,
             CAST(list_reduce(
               lc, (a, b) -> (((a // 64) >> (b % 64)) + b // 64) * 64
             ) // 64 AS BIGINT) AS decayed_count,
             CAST(list_reduce(
               ls, (a, b) -> (((a // 64) >> (b % 64)) + b // 64) * 64
             ) // 64 AS BIGINT) AS decayed_sum
      FROM p
    )
    SELECT user_id, n, decayed_count, decayed_sum,
           CAST((decayed_sum * 10000) // NULLIF(decayed_count, 0) AS BIGINT)
             AS decayed_avg_bp
    FROM r ORDER BY user_id
    """,
    "ClickHouse exponentialTimeDecayedCount + exponentialTimeDecayedAvg "
    "(operators/timeseries.py::time_decayed_count_avg), completing the "
    "q291/q292 family: the count fold is the q291 sum fold with every "
    "event weighing 1, the avg is their basis-point ratio under "
    "truncating integral division — both folds over ONE sorted "
    "per-group array in ONE aggregation, integer shifts end-to-end",
)
def q299(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import time_decayed_count_avg

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.pmod(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"), F.lit(100000)
        ).alias("x"),
    )
    return time_decayed_count_avg(
        ev, ["user_id"], "ts", "event_id", "x", tau_s=3600
    )


@_register(
    "q300_geo_distance",
    """
    WITH pts AS (
      SELECT c_nationkey,
             (c_custkey % 17000) / 100.0 - 85.0 AS lat,
             ((c_custkey * 7) % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    ), d AS (
      SELECT c_nationkey,
             2 * 6371008.8 * asin(LEAST(sqrt(
               sin((radians(52.52) - radians(lat)) / 2)
                 * sin((radians(52.52) - radians(lat)) / 2)
               + cos(radians(lat)) * cos(radians(52.52))
                 * sin((radians(13.405) - radians(lon)) / 2)
                 * sin((radians(13.405) - radians(lon)) / 2)
             ), 1.0)) AS dist
      FROM pts
    )
    SELECT c_nationkey, COUNT(*) AS n,
           CAST(ROUND(MIN(dist)) AS BIGINT) AS min_m,
           CAST(ROUND(MAX(dist)) AS BIGINT) AS max_m
    FROM d GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "ClickHouse greatCircleDistance (operators/geo.py::"
    "great_circle_distance_m): haversine meters on the IUGG mean "
    "sphere, customer points (key-derived deterministic coords) to a "
    "fixed reference — MIN/MAX per nation because they are order-"
    "independent under double arithmetic (a SUM of doubles is not), "
    "rounded to whole meters; squaring by multiplication, not pow "
    "(libm pow(x,2) is not guaranteed the exact product). Pure "
    "codegen projection, no UDF, no shuffle beyond the group agg",
)
def q300(spark, sf_dir):
    from kubenetmon_spark.operators.geo import great_circle_distance_m

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        ((F.col("c_custkey") % 17000) / 100.0 - 85.0).alias("lat"),
        (((F.col("c_custkey") * 7) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    d = c.withColumn(
        "dist",
        great_circle_distance_m(
            "lat", "lon", F.lit(52.52), F.lit(13.405)
        ),
    )
    return (
        d.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("dist")).cast("bigint").alias("min_m"),
            F.round(F.max("dist")).cast("bigint").alias("max_m"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "q301_average_precision",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 500
               AS score,
             CASE WHEN (user_id + event_id) % 3 = 0 THEN 1 ELSE 0 END
               AS label
      FROM events
    ), b AS (
      SELECT event_type, score,
             SUM(label) AS dtp, COUNT(*) AS nn
      FROM o GROUP BY event_type, score
    ), c AS (
      SELECT event_type, dtp,
             SUM(dtp) OVER (PARTITION BY event_type ORDER BY score DESC)
               AS tp,
             SUM(nn) OVER (PARTITION BY event_type ORDER BY score DESC)
               AS cum
      FROM b
    ), a AS (
      SELECT event_type, SUM(dtp) AS n_pos,
             SUM(dtp * ((tp * 1000000) // cum)) AS num
      FROM c GROUP BY event_type
    )
    SELECT event_type, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(num // NULLIF(n_pos, 0) AS BIGINT) AS ap_ppm
    FROM a ORDER BY event_type
    """,
    "exact average precision / area under the precision-recall curve "
    "(ClickHouse arrayAUCPR, the PR twin of q180's ROC AUC) — "
    "operators/stats.py::average_precision_exact: thresholds sweep "
    "distinct scores descending, each precision floors to ppm before "
    "the outer sum, recall normalization floors once at the end — all "
    "int64, so both engines agree bit-for-bit; raw rows shuffle once "
    "(map-side pre-agg to score blocks), the window runs over the "
    "small distinct-score table",
)
def q301(spark, sf_dir):
    from kubenetmon_spark.operators.stats import average_precision_exact

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
            % 500
        ).alias("score"),
        F.when((F.col("user_id") + F.col("event_id")) % 3 == 0, 1)
        .otherwise(0)
        .alias("label"),
    )
    return average_precision_exact(ev, ["event_type"], "score", "label")


@_register(
    "q302_range_dict",
    """
    WITH dim AS (
      SELECT i // 3 AS k, i % 3 AS period,
             DATE '1992-01-01' + CAST((i % 3) * 800 AS INTEGER) AS r_start,
             DATE '1992-01-01' + CAST((i % 3) * 800 + 799 AS INTEGER) AS r_end,
             (i // 3) * 100 + (i % 3) AS rate
      FROM (SELECT unnest(generate_series(0, 74)) AS i)
    ), f AS (
      SELECT o_custkey % 25 AS k, CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT f.k, COALESCE(dim.rate, -1) AS rate,
           COUNT(*) AS n, CAST(SUM(f.cents) AS BIGINT) AS cents
    FROM f LEFT JOIN dim
      ON f.k = dim.k AND f.d BETWEEN dim.r_start AND dim.r_end
    GROUP BY f.k, COALESCE(dim.rate, -1)
    ORDER BY f.k, rate
    """,
    "ClickHouse range_hashed dictionary (operators/dicts.py::"
    "dict_get_range): dictGet('tariff','rate',key,date) with "
    "inclusive-both-ends validity ranges as ONE LEFT broadcast join — "
    "disjoint ranges per key mean at most one match, so there is no "
    "window, no dedup, zero fact-side shuffle beyond the final group "
    "agg; unmatched dates fall to the dictGetOrDefault value (-1). "
    "strict=True proves disjointness with a dim-only self-join probe",
)
def q302(spark, sf_dir):
    from kubenetmon_spark.operators.dicts import dict_get_range

    dim = spark.range(75).select(
        (F.col("id") / 3).cast("long").alias("k"),
        (F.col("id") % 3).alias("period"),
        F.date_add(
            F.lit("1992-01-01").cast("date"), ((F.col("id") % 3) * 800).cast("int")
        ).alias("r_start"),
        F.date_add(
            F.lit("1992-01-01").cast("date"),
            ((F.col("id") % 3) * 800 + 799).cast("int"),
        ).alias("r_end"),
        ((F.col("id") / 3).cast("long") * 100 + F.col("id") % 3).alias("rate"),
    )
    f = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 25).alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    j = dict_get_range(
        f, dim.select("k", "r_start", "r_end", "rate"),
        ["k"], "d", "r_start", "r_end", strict=True,
    )
    return (
        j.withColumn("rate", F.coalesce(F.col("rate"), F.lit(-1)))
        .groupBy("k", "rate")
        .agg(F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("cents"))
        .orderBy("k", "rate")
    )


@_register(
    "q303_hash_functions",
    """
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex
    FROM documents
    ORDER BY doc_id LIMIT 500
    """,
    "ClickHouse cryptographic digest surface: SHA256 registered as an "
    "inline SQL function returning FixedString-shaped BINARY (sql.py; "
    "MD5/SHA1 are non-shadowable Spark builtins that already emit the "
    "hex a ClickHouse user writes as lower(hex(MD5(s)))) — "
    "Catalyst inlines the bodies into the scan projection, no UDF. "
    "cityHash64/sipHash64 are registered with the documented "
    "same-uses-different-values xxhash64 surrogate and excluded from "
    "the cross-engine oracle for that reason",
)
def q303(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        SELECT doc_id,
               md5(text) AS md5_hex,
               lower(hex(SHA256(text))) AS sha256_hex
        FROM documents
        ORDER BY doc_id LIMIT 500
        """
    )


@_register(
    "q304_format_datetime",
    """
    SELECT event_id,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS iso,
           strftime(date_trunc('second', ts), '%d.%m.%y') AS euro,
           strftime(date_trunc('second', ts), '%H:%M') AS hm
    FROM events
    ORDER BY event_id LIMIT 1000
    """,
    "ClickHouse formatDateTime (MySQL-syntax specifiers: %i is "
    "minute, %M refused as ambiguous across ClickHouse versions): "
    "sql.py rewrites the specifiers to Java patterns and inlines "
    "date_format so the projection stays in codegen; the oracle "
    "formats with C-strftime (%M minute) — textually different "
    "format strings, specifier-for-specifier identical output",
)
def q304(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id,
               formatDateTime(date_trunc('second', ts), '%Y-%m-%d %H:%i:%S')
                 AS iso,
               formatDateTime(date_trunc('second', ts), '%d.%m.%y') AS euro,
               formatDateTime(date_trunc('second', ts), '%H:%i') AS hm
        FROM events
        ORDER BY event_id LIMIT 1000
        """
    )


@_register(
    "q305_parse_best_effort",
    """
    WITH raw AS (
      SELECT * FROM (VALUES
        (1, '2024-03-01 12:34:56'), (2, '2024-03-01T12:34:56'),
        (3, '2024/03/02 01:02:03'), (4, '2024-03-03'),
        (5, '05.04.2024'),          (6, '1709290000'),
        (7, 'not a date'),          (8, '2024/03/05'),
        (9, ''),                    (10, '2024-13-45')
      ) AS t(id, s)
    )
    SELECT id, s,
           CAST(epoch(COALESCE(
             try_strptime(s, '%Y-%m-%d %H:%M:%S'),
             try_strptime(s, '%Y-%m-%dT%H:%M:%S'),
             try_strptime(s, '%Y/%m/%d %H:%M:%S'),
             try_strptime(s, '%Y-%m-%d'),
             try_strptime(s, '%Y/%m/%d'),
             try_strptime(s, '%d.%m.%Y'),
             CASE WHEN regexp_matches(s, '^[0-9]{10}$')
                  THEN make_timestamp(CAST(s AS BIGINT) * 1000000) END
           )) AS BIGINT) AS epoch_s
    FROM raw ORDER BY id
    """,
    "ClickHouse parseDateTimeBestEffort(OrNull): the forgiving ingest "
    "parser as a coalesce over the real-feed format ladder (ISO, "
    "T-separated, slashed, date-only, dotted European, 10-digit "
    "epoch) — sql.py registers it over try_to_timestamp so bad input "
    "yields NULL, never an ingest-killing throw; compared as epoch "
    "seconds so both engines' timestamp renderings stay out of the "
    "hash. Invalid month/day (2024-13-45) and empty string fall "
    "through every rung",
)
def q305(spark, sf_dir):
    from kubenetmon_spark.sql import register_sql_surface

    register_sql_surface(spark, sf_dir)
    return spark.sql(
        """
        WITH raw AS (
          SELECT * FROM (VALUES
            (1, '2024-03-01 12:34:56'), (2, '2024-03-01T12:34:56'),
            (3, '2024/03/02 01:02:03'), (4, '2024-03-03'),
            (5, '05.04.2024'),          (6, '1709290000'),
            (7, 'not a date'),          (8, '2024/03/05'),
            (9, ''),                    (10, '2024-13-45')
          ) AS t(id, s)
        )
        SELECT id, s,
               CAST(to_unix_timestamp(parseDateTimeBestEffort(s)) AS BIGINT)
                 AS epoch_s
        FROM raw ORDER BY id
        """
    )


@_register(
    "q306_agg_foreach",
    """
    WITH e AS (
      SELECT vec_id % 4 AS g,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS v
      FROM embeddings
    ), f AS (
      SELECT g,
             list_reduce(list(v),
               (a, b) -> list_transform(range(1, len(a) + 1),
                                        i -> a[i] + b[i])) AS sums,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY g
    )
    SELECT g, CAST(len(sums) AS BIGINT) AS dim,
           CAST(sums[1] AS BIGINT) AS s1,
           CAST(sums[64] AS BIGINT) AS s64,
           CAST(list_sum(sums) AS BIGINT) AS total,
           n,
           CAST((sums[1] * 10000) // n AS BIGINT) AS avg1_bp
    FROM f ORDER BY g
    """,
    "ClickHouse -ForEach combinator (sumForEach/avgForEach/countForEach "
    "— operators/agg.py::agg_foreach): element-wise aggregation of the "
    "embedding arrays per group; posexplode + ONE (group,pos) shuffle "
    "with map-side partials, per-group fold bounded by the array "
    "dimension. floor(x*1e4+0.5) scaling is the q50 engine-identical "
    "rounding; avgForEach = the bp ratio under truncating division",
)
def q306(spark, sf_dir):
    from kubenetmon_spark.operators.agg import agg_foreach

    e = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 4).alias("g"), "embedding"
    )
    r = agg_foreach(
        e,
        ["g"],
        "embedding",
        value=F.expr("cast(floor(cast(col as double) * 10000 + 0.5) as bigint)"),
    )
    return (
        r.select(
            "g",
            F.size("sums").cast("bigint").alias("dim"),
            F.element_at("sums", 1).cast("bigint").alias("s1"),
            F.element_at("sums", 64).cast("bigint").alias("s64"),
            F.aggregate(
                "sums", F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("total"),
            F.element_at("counts", 1).cast("bigint").alias("n"),
        )
        .withColumn("avg1_bp", F.expr("(s1 * 10000) div n"))
        .orderBy("g")
    )


@_register(
    "q307_promql_grid",
    """
    WITH base AS (
      SELECT user_id % 4 AS k,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    s0 AS (SELECT k, ts_s, SUM(cents) AS inc FROM base GROUP BY 1, 2),
    s AS (
      SELECT k, ts_s,
             CAST(SUM(inc) OVER (PARTITION BY k ORDER BY ts_s) % 100000
                  AS BIGINT) AS v
      FROM s0
    ),
    p AS (
      SELECT k, ts_s, v, lag(ts_s) OVER w AS pts, lag(v) OVER w AS pv
      FROM s WINDOW w AS (PARTITION BY k ORDER BY ts_s)
    ),
    params AS (
      SELECT CAST(epoch(date_trunc('day', min(ts))) AS BIGINT) AS start_s
      FROM events
    ),
    grid AS (
      SELECT CAST(range AS BIGINT) AS i,
             start_s + CAST(range AS BIGINT) * 3600 AS t
      FROM range(48), params
    ),
    sa AS (
      SELECT s.k, g.i, g.t,
             COUNT(*) AS n_samples,
             arg_max(s.v, s.ts_s) AS last_v,
             arg_min(s.v, s.ts_s) AS first_v,
             max(s.ts_s) AS last_ts,
             min(s.ts_s) AS first_ts
      FROM grid g JOIN s ON s.ts_s <= g.t AND s.ts_s > g.t - 7200
      GROUP BY 1, 2, 3
    ),
    pa AS (
      SELECT p.k, g.i,
             SUM(CASE WHEN p.v < p.pv THEN p.pv ELSE 0 END) AS resets,
             arg_max(CASE WHEN p.v >= p.pv THEN p.v - p.pv ELSE p.v END,
                     p.ts_s) AS li,
             arg_max(p.ts_s - p.pts, p.ts_s) AS ld
      FROM grid g JOIN p ON p.ts_s <= g.t AND p.pts > g.t - 7200
      GROUP BY 1, 2
    )
    SELECT sa.k, sa.t AS bucket_ts, sa.n_samples, sa.last_v,
           CASE WHEN n_samples >= 2 THEN last_v - first_v END AS delta,
           CASE WHEN n_samples >= 2
                THEN CAST(last_v - first_v + COALESCE(resets, 0) AS BIGINT)
                END AS increase,
           CASE WHEN n_samples >= 2 THEN
             CAST(floor(CAST((last_v - first_v + COALESCE(resets, 0))
                             * 10000 AS DOUBLE) / (last_ts - first_ts))
                  AS BIGINT) END AS rate_bp,
           CAST(floor(CAST(li * 10000 AS DOUBLE) / ld) AS BIGINT) AS irate_bp
    FROM sa LEFT JOIN pa ON pa.k = sa.k AND pa.i = sa.i
    ORDER BY sa.k, bucket_ts
    """,
    "ClickHouse timeSeries*ToGrid family / PromQL evaluation "
    "(operators/timeseries.py::promql_to_grid): a per-user-cohort "
    "counter series (cumulative cents mod 1e5, so it RESETS) is "
    "evaluated at 48 hourly grid points with a 2h trailing window — "
    "resample-with-staleness last value, gauge delta, reset-adjusted "
    "PromQL increase, span-exact rate_bp, and latest-pair irate_bp, "
    "all exact integers; bounded sequence-explode coverage instead of "
    "a range join (O(rows*window/step), 2 shuffles, no driver collect)",
)
def q307(spark, sf_dir):
    from kubenetmon_spark.operators.timeseries import promql_to_grid

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 4).alias("k"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    s0 = base.groupBy("k", "ts_s").agg(F.sum("cents").alias("inc"))
    cum = Window.partitionBy("k").orderBy("ts_s")
    samples = s0.select(
        "k",
        "ts_s",
        (F.sum("inc").over(cum) % 100000).alias("v"),
    )
    start_s = (
        ev.agg(
            F.unix_timestamp(F.date_trunc("day", F.min("ts"))).alias("s")
        ).collect()[0]["s"]
    )
    return (
        promql_to_grid(
            samples,
            ["k"],
            "ts_s",
            "v",
            start_s=start_s,
            n_buckets=48,
            step_s=3600,
            window_s=7200,
        )
        .orderBy("k", "bucket_ts")
    )


@_register(
    "q308_ranking_metrics",
    """
    WITH cnt AS (
      SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2
    ),
    runs AS (
      SELECT event_type, user_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rank
      FROM cnt QUALIFY rank <= 10
    ),
    qrels AS (
      SELECT event_type, user_id, 2 - user_id % 4 AS rel
      FROM cnt WHERE user_id % 4 <= 1
    ),
    j AS (
      SELECT r.event_type, r.rank, COALESCE(q.rel, 0) AS rel
      FROM runs r LEFT JOIN qrels q USING (event_type, user_id)
    ),
    pr AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_k,
             CAST(COUNT(*) AS BIGINT) AS n_ret,
             MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel,
             CAST(SUM(rel * (27720 // (rank + 1))) AS BIGINT) AS dcg
      FROM j GROUP BY 1
    ),
    iq AS (
      SELECT event_type, rel,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY rel DESC, user_id) AS pos
      FROM qrels
    ),
    ideal AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN pos <= 10
                           THEN rel * (27720 // (pos + 1))
                           ELSE 0 END) AS BIGINT) AS idcg
      FROM iq GROUP BY 1
    )
    SELECT pr.event_type AS event_type, n_rel, hits_k,
           CAST(floor(hits_k * 1000000.0 / n_rel) AS BIGINT)
             AS recall_k_ppm,
           CAST(floor(hits_k * 1000000.0 / n_ret) AS BIGINT)
             AS precision_k_ppm,
           COALESCE(CAST(floor(1000000.0 / first_rel) AS BIGINT), 0)
             AS mrr_ppm,
           CAST(floor(dcg * 1000000.0 / idcg) AS BIGINT) AS ndcg_k_ppm
    FROM pr JOIN ideal USING (event_type)
    ORDER BY event_type
    """,
    "retrieval-evaluation metrics over a ranked run vs graded qrels "
    "(operators/retrieval.py::ranking_metrics): recall@10, "
    "precision@10, MRR and NDCG@10 per query (event_type), TREC "
    "run+qrels layout; NDCG uses the exact-integer harmonic discount "
    "rel*(lcm(2..11)//(rank+1)) so every value hash-matches ANSI SQL; "
    "one (query,doc) equi-join + two (query) hash aggs, no windows "
    "over the run, nothing collects",
)
def q308(spark, sf_dir):
    from kubenetmon_spark.operators.retrieval import ranking_metrics

    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    runs = (
        cnt.select(
            "event_type",
            "user_id",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    qrels = cnt.filter(F.col("user_id") % 4 <= 1).select(
        "event_type",
        "user_id",
        (F.lit(2) - F.col("user_id") % 4).alias("rel"),
    )
    return ranking_metrics(
        runs,
        qrels,
        k=10,
        query_col="event_type",
        doc_col="user_id",
    ).orderBy("event_type")


@_register(
    "q309_embedding_contamination",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM embeddings WHERE vec_id < 5000
    ),
    b AS (
      SELECT vec_id AS bench_id, embedding, nm FROM n WHERE vec_id % 25 = 0
    ),
    c AS (
      SELECT vec_id AS corpus_id, embedding, nm FROM n
      WHERE vec_id % 25 <> 0
      UNION ALL
      SELECT vec_id + 10000, embedding, nm FROM n WHERE vec_id % 25 = 0
    )
    SELECT c.corpus_id, b.bench_id,
           CAST(ROUND({_DOT.format(a='c.embedding', b='b.embedding')}
                      / (c.nm * b.nm) * 10000, 0) AS BIGINT) AS cosine_bp
    FROM c, b
    WHERE CAST(ROUND({_DOT.format(a='c.embedding', b='b.embedding')}
                     / (c.nm * b.nm) * 10000, 0) AS BIGINT) >= 4000
    ORDER BY corpus_id, bench_id
    """,
    "embedding-space benchmark decontamination "
    "(operators/contamination.py::embedding_contamination_pairs, "
    "method='exact'): every 25th embedding is the eval suite, the "
    "corpus is the rest plus PLANTED copies of the eval vectors under "
    "shifted ids; pairs at cosine_bp >= 4000 catch both the planted "
    "exact copies (10000) and the organic near-threshold tail — the "
    "benchmark side broadcasts, the corpus scans once with zero "
    "shuffle, and the max_benchmark tripwire enforces that posture "
    "(the q22 lesson applied at design time)",
)
def q309(spark, sf_dir):
    from kubenetmon_spark.operators.contamination import (
        embedding_contamination_pairs,
    )

    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 5000)  # q27 slice idiom: the exact
        # all-pairs gate stays bounded at every SF; the full-table
        # scale path is method='lsh' (subset-tested in unit tests)
    )
    bench = e.filter(F.col("vec_id") % 25 == 0)
    corpus = e.filter(F.col("vec_id") % 25 != 0).unionByName(
        bench.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
    )
    return embedding_contamination_pairs(
        corpus, bench, threshold_bp=4000, method="exact"
    ).orderBy("corpus_id", "bench_id")


@_register(
    "q310_leakage_safe_split",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_SQL},
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION
      SELECT id_2 AS a, id_1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_rep FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
           CASE WHEN substr(md5(CAST(COALESCE(c.cluster_rep, d.doc_id)
                                     AS VARCHAR)), 1, 4) < 'e666'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ORDER BY d.doc_id
    """,
    "near-dup-aware train/test split "
    "(operators/sampling.py::leakage_safe_split): the hash split "
    "decision is made on the duplicate-CLUSTER representative (q43's "
    "connected components over minhash-LSH pairs; singletons are their "
    "own cluster), so near-duplicates can never straddle train/test — "
    "components run on the tiny edge set, the corpus takes one "
    "broadcast left join + a narrow md5 filter, zero corpus shuffle",
)
def q310(spark, sf_dir):
    from kubenetmon_spark.operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, bands=4, n=3,
        verify_threshold_bp=3000,
    )
    return leakage_safe_split(d, pairs, "doc_id", train_bp=9000).orderBy(
        "doc_id"
    )


@_register(
    "q311_hard_negatives",
    f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nm
      FROM embeddings WHERE vec_id < 5000
    ),
    q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qv, nm AS qnm
      FROM n WHERE vec_id % 50 = 0
    ),
    s AS (
      SELECT q.qid, c.vec_id,
             CAST(ROUND({_DOT.format(a='c.embedding', b='q.qv')}
                        / (c.nm * q.qnm) * 10000, 0) AS BIGINT) AS cosine_bp
      FROM n c JOIN q ON c.label <> q.qlabel
    ),
    r AS (
      SELECT qid, vec_id, cosine_bp,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine_bp DESC, vec_id) AS rk
      FROM s
    )
    SELECT qid, vec_id, cosine_bp, rk FROM r WHERE rk <= 5
    ORDER BY qid, rk
    """,
    "hard-negative mining for contrastive training "
    "(operators/similarity.py::hard_negative_mining): per probe vector "
    "(every 50th embedding), the top-5 corpus vectors by cosine with a "
    "DIFFERENT label — the near-miss examples that define the decision "
    "boundary; probe panel broadcasts, corpus scans once, per-query "
    "top-k runs as WindowGroupLimit (partial top-k per task before the "
    "single qid shuffle), ranking on integer cosine_bp with id "
    "tie-break",
)
def q311(spark, sf_dir):
    from kubenetmon_spark.operators.similarity import hard_negative_mining

    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 5000  # q27 slice idiom: bounded exact panel;
        # corpus-x-corpus mining composes with the persisted IVF index
    )
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return hard_negative_mining(e, queries, k=5).orderBy("qid", "rk")


@_register(
    "q312_agg_resample",
    """
    WITH src AS (
      SELECT o_orderpriority, month(o_orderdate) AS m,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT o_orderpriority, (m - 1) // 3 AS bkt,
             CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
      FROM src WHERE m >= 1 AND m < 13 GROUP BY 1, 2
    ),
    grid AS (
      SELECT DISTINCT o_orderpriority, j
      FROM src, (SELECT range AS j FROM range(4))
    ),
    f AS (
      SELECT g.o_orderpriority, g.j,
             COALESCE(b.s, 0) AS s, COALESCE(b.n, 0) AS n
      FROM grid g LEFT JOIN b
        ON b.o_orderpriority = g.o_orderpriority AND b.bkt = g.j
    )
    SELECT o_orderpriority,
           list(s ORDER BY j) AS sums,
           list(n ORDER BY j) AS counts
    FROM f GROUP BY 1 ORDER BY 1
    """,
    "the -Resample aggregate combinator "
    "(operators/agg.py::agg_resample — sumResample/countResample): "
    "per order priority, revenue cents and order counts split into 4 "
    "quarterly buckets of the order month, rendered as ONE ARRAY per "
    "group with 0-defaults for empty slots exactly like ClickHouse; "
    "one (group,bucket) hash agg with map-side partials, constant-size "
    "per-group assembly, no grid-x-fact explode",
)
def q312(spark, sf_dir):
    from kubenetmon_spark.operators.agg import agg_resample

    o = _t(spark, sf_dir, "orders")
    src = o.select(
        "o_orderpriority",
        F.month("o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return agg_resample(
        src, ["o_orderpriority"], "cents", "m", start=1, end=13, step=3
    ).orderBy("o_orderpriority")


def _q313_oracle() -> str:
    from kubenetmon_spark.functions.normalize import sql_normalize_query

    expr = (
        "'SELECT ' || event_type || ' FROM logs WHERE user = ' || "
        "CAST(user_id AS VARCHAR) || ' AND tag = ''' || event_type || "
        "''' AND day IN (' || CAST(day(ts) AS VARCHAR) || ', ' || "
        "CAST(day(ts) + 1 AS VARCHAR) || ')'"
    )
    return f"""
    WITH s AS (
      SELECT {sql_normalize_query(expr)} AS skeleton, user_id
      FROM events
    )
    SELECT skeleton, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM s GROUP BY skeleton ORDER BY skeleton
    """


@_register(
    "q313_normalize_query",
    _q313_oracle(),
    "ClickHouse normalizeQuery / normalizedQueryHash "
    "(functions/normalize.py): a templated query-log line is rebuilt "
    "per event (identifier varies, literals vary), and normalization "
    "collapses string + numeric literals to '?', IN-lists to '?..' — "
    "one skeleton per event_type; the same regex chain (word-boundary "
    "patterns only — no lookbehind, so Java regex and RE2 agree) is "
    "emitted as SQL by sql_normalize_query for the oracle; pure "
    "projections, one hash agg",
)
def q313(spark, sf_dir):
    from kubenetmon_spark.functions.normalize import normalize_query

    ev = _t(spark, sf_dir, "events")
    qtxt = F.concat(
        F.lit("SELECT "),
        F.col("event_type"),
        F.lit(" FROM logs WHERE user = "),
        F.col("user_id").cast("string"),
        F.lit(" AND tag = '"),
        F.col("event_type"),
        F.lit("' AND day IN ("),
        F.dayofmonth("ts").cast("string"),
        F.lit(", "),
        (F.dayofmonth("ts") + 1).cast("string"),
        F.lit(")"),
    )
    return (
        ev.select(normalize_query(qtxt).alias("skeleton"), "user_id")
        .groupBy("skeleton")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("skeleton")
    )


@_register(
    "q314_ngram_novelty",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ref AS (
      SELECT DISTINCT s.shingle
      FROM sh s JOIN documents d ON d.doc_id = s._id
      WHERE length(d.source) = 5
    ),
    dd AS (
      SELECT s._id, s.shingle
      FROM sh s JOIN documents d ON d.doc_id = s._id
      WHERE length(d.source) = 4
    )
    SELECT dd._id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(SUM(CASE WHEN ref.shingle IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN ref.shingle IS NULL THEN 1 ELSE 0 END)
                * 10000 AS BIGINT)
             // COUNT(*) AS novelty_bp
    FROM dd LEFT JOIN ref USING (shingle)
    GROUP BY 1 ORDER BY 1
    """,
    "per-document n-gram novelty vs a reference corpus "
    "(operators/curation.py::ngram_novelty — the memorization / "
    "new-source audit): docs from the single-digit sources are scored "
    "against the gram set of the double-digit sources; distinct "
    "3-gram shingles via the shared JVM shingler, reference "
    "collapses to DISTINCT grams once, one gram-key equi-join (the "
    "q101 span-audit shape), exact-integer novelty_bp",
)
def q314(spark, sf_dir):
    from kubenetmon_spark.operators.curation import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    probe = d.filter(F.length("source") == 4)
    ref = d.filter(F.length("source") == 5)
    return ngram_novelty(probe, ref, "doc_id", "text", n=3).orderBy(
        "doc_id"
    )


@_register(
    "q315_streaming_rates",
    """
    WITH base AS (
      SELECT user_id % 4 AS k,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    s0 AS (SELECT k, ts_s, SUM(cents) AS inc FROM base GROUP BY 1, 2),
    s AS (
      SELECT k, ts_s,
             CAST(SUM(inc) OVER (PARTITION BY k ORDER BY ts_s) % 100000
                  AS BIGINT) AS v
      FROM s0
    ),
    p AS (
      SELECT k, ts_s, v, lag(ts_s) OVER w AS pts, lag(v) OVER w AS pv
      FROM s WINDOW w AS (PARTITION BY k ORDER BY ts_s)
    ),
    params AS (
      SELECT ((min(ts_s) + 3599) // 3600) * 3600 AS t_lo,
             ((max(ts_s) + 7199) // 3600) * 3600 AS t_hi
      FROM s
    ),
    grid AS (
      SELECT t_lo + CAST(range AS BIGINT) * 3600 AS t
      FROM params, range(0, 100000)
      WHERE t_lo + CAST(range AS BIGINT) * 3600 <= t_hi
    ),
    sa AS (
      SELECT s.k, g.t,
             COUNT(*) AS n_samples,
             arg_max(s.v, s.ts_s) AS last_v,
             arg_min(s.v, s.ts_s) AS first_v,
             max(s.ts_s) AS last_ts,
             min(s.ts_s) AS first_ts
      FROM grid g JOIN s ON s.ts_s <= g.t AND s.ts_s > g.t - 7200
      GROUP BY 1, 2
    ),
    pa AS (
      SELECT p.k, g.t,
             SUM(CASE WHEN p.v < p.pv THEN p.pv ELSE 0 END) AS resets,
             arg_max(CASE WHEN p.v >= p.pv THEN p.v - p.pv ELSE p.v END,
                     p.ts_s) AS li,
             arg_max(p.ts_s - p.pts, p.ts_s) AS ld
      FROM grid g JOIN p ON p.ts_s <= g.t AND p.pts > g.t - 7200
      GROUP BY 1, 2
    )
    SELECT sa.k, sa.t AS bucket_ts, sa.n_samples, sa.last_v,
           CASE WHEN n_samples >= 2 THEN last_v - first_v END AS delta,
           CASE WHEN n_samples >= 2
                THEN CAST(last_v - first_v + COALESCE(resets, 0) AS BIGINT)
                END AS increase,
           CASE WHEN n_samples >= 2 THEN
             CAST(floor(CAST((last_v - first_v + COALESCE(resets, 0))
                             * 10000 AS DOUBLE) / (last_ts - first_ts))
                  AS BIGINT) END AS rate_bp,
           CAST(floor(CAST(li * 10000 AS DOUBLE) / ld) AS BIGINT) AS irate_bp
    FROM sa LEFT JOIN pa ON pa.k = sa.k AND pa.t = sa.t
    ORDER BY sa.k, bucket_ts
    """,
    "the STREAMING form of q307 (streaming/rates.py::start_rates_stream "
    "over operators/timeseries.py::promql_to_grid): the same per-cohort "
    "counter samples arrive as 3 chronological micro-batches "
    "(maxFilesPerTrigger=1, pinned mtimes); each batch recomputes only "
    "the grid buckets its samples can influence from a bounded "
    "persisted sample buffer and upserts those partitions — the final "
    "table hash-matches the one-shot batch evaluation over the NATURAL "
    "hourly grid (oracle computes that grid directly)",
)
def q315(spark, sf_dir):
    import os
    import tempfile

    from kubenetmon_spark.streaming.rates import (
        read_rates,
        start_rates_stream,
    )

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 4).alias("k"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    s0 = base.groupBy("k", "ts_s").agg(F.sum("cents").alias("inc"))
    cum = Window.partitionBy("k").orderBy("ts_s")
    # checkpoint once: three slice writes below each coalesce(1) —
    # without this the full scan+agg+window plan would re-execute
    # single-task per slice
    samples = s0.select(
        "k", "ts_s", (F.sum("inc").over(cum) % 100000).alias("v")
    ).localCheckpoint(eager=True)
    lo, hi = samples.agg(F.min("ts_s"), F.max("ts_s")).collect()[0]
    cuts = [lo + (hi - lo + 2) // 3, lo + 2 * ((hi - lo + 2) // 3)]

    tmp = tempfile.mkdtemp(prefix="gate_srates_")
    src = os.path.join(tmp, "src")
    slices = [
        samples.filter(F.col("ts_s") <= cuts[0]),
        samples.filter(
            (F.col("ts_s") > cuts[0]) & (F.col("ts_s") <= cuts[1])
        ),
        samples.filter(F.col("ts_s") > cuts[1]),
    ]
    # the file source orders by MODIFICATION TIME: pin mtimes per write
    # (part names are UUIDs — name order is NOT write order) so the
    # three chronological slices replay in order
    seen: set = set()
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("append").parquet(src)
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                os.utime(
                    os.path.join(src, f),
                    (1700000000 + i, 1700000000 + i),
                )
                seen.add(f)

    stream = (
        spark.readStream.schema("k bigint, ts_s bigint, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_rates_stream(
        stream,
        os.path.join(tmp, "out"),
        os.path.join(tmp, "buf"),
        os.path.join(tmp, "ckpt"),
        ["k"],
        step_s=3600,
        window_s=7200,
    )
    q.awaitTermination(600)
    return read_rates(spark, os.path.join(tmp, "out")).orderBy(
        "k", "bucket_ts"
    )


@_register(
    "q316_table_diff",
    """
    WITH l AS (
      SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
    ),
    r AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X-CHANGED'
                  ELSE o_orderpriority END AS o_orderpriority,
             CASE WHEN o_orderkey % 13 = 0 THEN 'Z'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority, o_orderstatus
      FROM orders WHERE o_orderkey % 500 = 0
    ),
    j AS (
      SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
             CASE WHEN l.o_orderkey IS NULL THEN 'added'
                  WHEN r.o_orderkey IS NULL THEN 'removed'
                  WHEN l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
                    OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                  THEN 'changed' END AS status,
             list_filter(
               [CASE WHEN l.o_orderpriority IS DISTINCT FROM
                          r.o_orderpriority THEN 'o_orderpriority' END,
                CASE WHEN l.o_orderstatus IS DISTINCT FROM
                          r.o_orderstatus THEN 'o_orderstatus' END],
               x -> x IS NOT NULL) AS diffs
      FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
    )
    SELECT o_orderkey, status,
           CASE WHEN status = 'changed' THEN diffs
                ELSE CAST([] AS VARCHAR[]) END AS changed_cols
    FROM j WHERE status IS NOT NULL
    ORDER BY o_orderkey, status
    """,
    "snapshot/replica content diff (operators/audit.py::table_diff): "
    "orders vs a deterministically mutated copy (every 97th removed, "
    "every 13th changed in two columns, every 500th re-added under a "
    "shifted key) — added/removed/changed per key with the changed "
    "column-name list; ONE full outer join on the key, output bounded "
    "by churn; the content twin of backup_table's file verification",
)
def q316(spark, sf_dir):
    from kubenetmon_spark.operators.audit import table_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    changed = F.col("o_orderkey") % 13 == 0
    right = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(changed, F.lit("X-CHANGED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            F.when(changed, F.lit("Z"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderpriority",
                "o_orderstatus",
            )
        )
    )
    return table_diff(o, right, ["o_orderkey"]).orderBy(
        "o_orderkey", "status"
    )


@_register(
    "q317_schema_evolution",
    """
    WITH v1 AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE user_id % 2 = 0
    ), v2 AS (
      SELECT user_id, event_type AS etype, value,
             'r' || CAST(user_id % 3 AS VARCHAR) AS region
      FROM events WHERE user_id % 2 = 1
    ), unioned AS (
      SELECT CAST(user_id AS INT) AS user_id, event_type AS etype,
             'unassigned' AS region, value FROM v1
      UNION ALL
      SELECT CAST(user_id AS INT), etype, region, value FROM v2
    )
    SELECT etype, region, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM unioned GROUP BY etype, region ORDER BY etype, region
    """,
    "ClickHouse ALTER TABLE ADD/DROP/RENAME/MODIFY COLUMN as "
    "metadata-only schema evolution (evolve.py): generation 1 of a "
    "table lands with the old schema; four instant ALTERs (ADD region "
    "DEFAULT, RENAME event_type->etype, DROP event_id, MODIFY user_id "
    "INT) touch only the _schema_log.json sidecar; generation 2 "
    "appends in the evolved schema; read_evolved unifies both "
    "generations in one mergeSchema scan + narrow projections (no "
    "shuffle, no rewrite) — old rows surface the DEFAULT, renamed "
    "columns unify, dropped bytes hide. The oracle reconstructs the "
    "same two-generation union directly. The merge-time twin "
    "(materialize_schema) is pinned by tests/test_evolve.py",
)
def q317(spark, sf_dir):
    import tempfile

    from kubenetmon_spark.evolve import (
        add_column,
        drop_column,
        modify_column,
        read_evolved,
        rename_column,
    )

    tmp = tempfile.mkdtemp(prefix="gate_evolve_")
    tbl = tmp + "/events_v"
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.filter(F.col("user_id") % 2 == 0).write.parquet(tbl)
    add_column(tbl, "region", "string", default="'unassigned'")
    rename_column(tbl, "event_type", "etype")
    drop_column(tbl, "event_id")
    modify_column(tbl, "user_id", "int")
    ev.filter(F.col("user_id") % 2 == 1).select(
        "user_id",
        F.col("event_type").alias("etype"),
        "value",
        F.concat(F.lit("r"), (F.col("user_id") % 3).cast("string")).alias(
            "region"
        ),
    ).write.mode("append").parquet(tbl)
    return (
        read_evolved(spark, tbl)
        .groupBy("etype", "region")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("etype", "region")
    )


@_register(
    "q318_png_codec_features",
    """
    WITH ids AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id
      FROM documents WHERE doc_id < 64
    ),
    sums AS (
      SELECT media_id,
             SUM((media_id*37 + y.y*31 + x.x*17) % 256) AS s_r,
             SUM((media_id*37 + y.y*31 + x.x*17 + 97) % 256) AS s_g,
             SUM((media_id*37 + y.y*31 + x.x*17 + 194) % 256) AS s_b
      FROM ids
      CROSS JOIN generate_series(0, 15) AS y(y)
      CROSS JOIN generate_series(0, 11) AS x(x)
      GROUP BY media_id
    )
    SELECT media_id,
           CAST((s_r * 100) // 192 AS BIGINT) AS mean_r_e2,
           CAST((s_g * 100) // 192 AS BIGINT) AS mean_g_e2,
           CAST((s_b * 100) // 192 AS BIGINT) AS mean_b_e2
    FROM sums ORDER BY media_id
    """,
    "REAL image codec end-to-end: formula pixels -> pure-Python PNG "
    "encode (filter type cycles 0-4 by doc id) -> decode_image "
    "(codec='png': zlib inflate, CRC, all five defilters) -> channel "
    "means. The oracle computes the identical means straight from the "
    "pixel formula, so any codec corruption hash-fails; the PNG byte "
    "stream itself is exercised for real (vendored codec, "
    "functions/png.py)",
)
def q318(spark, sf_dir):
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from kubenetmon_spark.operators.media import (
        decode_image,
        mean_channel_features,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(F.col("doc_id").cast("long").alias("media_id"))
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("content", BinaryType(), True),
        ]
    )

    def encode_batches(it):
        import numpy as np
        import pandas as pd

        from kubenetmon_spark.functions.png import encode_png

        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                y = np.arange(16, dtype=np.int64)[:, None, None]
                x = np.arange(12, dtype=np.int64)[None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                img = ((mid * 37 + y * 31 + x * 17 + c * 97) % 256).astype(
                    np.uint8
                )
                payloads.append(
                    bytearray(encode_png(img, filter_type=mid % 5))
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    media = ids.mapInPandas(encode_batches, schema)
    decoded = decode_image(media, out_width=12, out_height=16, codec="png")
    return mean_channel_features(decoded).orderBy("media_id")


@_register(
    "q319_labeler_ipv6",
    """
    WITH base AS (
      SELECT CASE WHEN event_id % 2 = 1 THEN 'v6' ELSE 'v4' END AS family,
             CASE event_type
               WHEN 'view' THEN 'INTRA_REGION'
               WHEN 'purchase' THEN 'PUBLIC_INTERNET'
               WHEN 'click' THEN 'INTRA_VPC'
               WHEN 'signup' THEN 'INTRA_VPC'
               ELSE 'PUBLIC_INTERNET' END AS connectionClass,
             CASE event_type
               WHEN 'view' THEN 'aws'
               WHEN 'purchase' THEN 'gcp'
               WHEN 'click' THEN 'aws'
               WHEN 'signup' THEN 'aws'
               ELSE '' END AS remoteCloud,
             CASE
               WHEN event_type IN ('view', 'click', 'signup')
                 THEN 'us-west-2'
               WHEN event_type = 'purchase' THEN
                 CASE WHEN event_id % 2 = 1
                      THEN 'europe-west1' ELSE 'us-central1' END
               ELSE '' END AS remoteRegion,
             CAST(ROUND(value * 100, 0) AS BIGINT)
               + event_id % 1000 + 1 AS b_out,
             CAST(ROUND(value * 37, 0) AS BIGINT)
               + event_id % 777 + 1 AS b_in
      FROM events
    )
    SELECT family, connectionClass, remoteCloud, remoteRegion,
           '' AS reject, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(b_out) AS BIGINT) AS bytes_out_sum,
           CAST(SUM(b_in) AS BIGINT) AS bytes_in_sum
    FROM base GROUP BY 1, 2, 3, 4
    ORDER BY family, connectionClass, remoteCloud, remoteRegion
    """,
    "IPv6 labeling END-TO-END (cfg.ignore_ipv6=False — the metering "
    "extension; the reference drops v6 at labeler.go:243-247): a mixed "
    "v4+v6 observation stream runs the FULL labeler — v6 endpoints "
    "parse to 128-bit pairs in-plan (no UDF), ULA/link-local short-"
    "circuit as private, public v6 remotes classify through the "
    "disjoint-interval v6 LPM (nested /32-under-/16 must win), v4 rows "
    "classify identically to q26 in the same plan. reject column rides "
    "in the group key, so ANY unexpected per-row reject (including "
    "ipv6_parse_error) hash-fails the gate",
)
def q319(spark, sf_dir):
    from dataclasses import replace

    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs6
    from kubenetmon_spark.operators.label import label_flows

    obs, pods, nodes, prefixes, prefixes6 = build_flow_inputs6(spark, sf_dir)
    cfg = replace(DEMO_CFG, ignore_ipv6=False)
    labeled = label_flows(
        obs, pods, nodes, prefixes, cfg, prefixes6=prefixes6
    )
    return (
        labeled.groupBy(
            F.when(F.col("remoteIPv4").contains(":"), "v6")
            .otherwise("v4")
            .alias("family"),
            "connectionClass",
            "remoteCloud",
            "remoteRegion",
            F.coalesce("reject_reason", F.lit("")).alias("reject"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bytes_out").alias("bytes_out_sum"),
            F.sum("bytes_in").alias("bytes_in_sum"),
        )
        .orderBy("family", "connectionClass", "remoteCloud", "remoteRegion")
    )


@_register(
    "q320_wav_codec_resample",
    """
    WITH ids AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id
      FROM documents WHERE doc_id < 48
    ),
    pts AS (
      SELECT media_id, i.i,
             ((media_id*31 + (i.i // 2)*17) % 2048) - 1024 AS s0,
             ((media_id*31 +
               (CASE WHEN i.i // 2 + 1 > 239
                     THEN 239 ELSE i.i // 2 + 1 END)*17) % 2048)
               - 1024 AS s1,
             i.i % 2 AS odd
      FROM ids CROSS JOIN generate_series(0, 479) AS i(i)
    ),
    vals AS (
      -- floor midpoint: DuckDB's // truncates toward zero on
      -- negatives, so shift by an even offset into non-negative range
      -- (s in [-1024,1023] -> s0+s1+4096 >= 0), divide, shift back
      SELECT media_id,
             CASE WHEN odd = 0 THEN s0
                  ELSE (s0 + s1 + 4096) // 2 - 2048 END AS v
      FROM pts
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM vals GROUP BY media_id ORDER BY media_id
    """,
    "REAL audio codec end-to-end: formula 8 kHz PCM -> stdlib WAV "
    "encode (RIFF 16-bit) -> resample_audio decode + integer-exact "
    "2x linear upsample to 16 kHz -> amplitude features. The oracle "
    "computes every resampled value from the formula (even i = source "
    "sample, odd i = floor midpoint with end clamp), so codec or "
    "interpolator corruption hash-fails; negative amplitudes pin "
    "floor-division agreement between engines",
)
def q320(spark, sf_dir):
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from kubenetmon_spark.operators.media import (
        pcm_features,
        resample_audio,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("long").alias("media_id"))
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("content", BinaryType(), True),
        ]
    )

    def encode_batches(it):
        import numpy as np
        import pandas as pd

        from kubenetmon_spark.functions.wav import encode_wav

        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                t = np.arange(240, dtype=np.int64)
                s = ((mid * 31 + t * 17) % 2048) - 1024
                payloads.append(bytearray(encode_wav(s, 8000)))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    media = ids.mapInPandas(encode_batches, schema)
    return pcm_features(resample_audio(media, 16000)).orderBy("media_id")


@_register(
    "q321_fuzzy_sorted_neighborhood",
    """
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS blk
      FROM part
    ),
    r AS (
      SELECT p_partkey, p_name, blk,
             ROW_NUMBER() OVER (
               PARTITION BY blk ORDER BY p_name, p_partkey
             ) AS rn
      FROM p
    ),
    pairs AS (
      SELECT a.blk AS block,
             LEAST(a.p_partkey, b.p_partkey) AS a_id,
             GREATEST(a.p_partkey, b.p_partkey) AS b_id,
             levenshtein(a.p_name, b.p_name) AS d
      FROM r a JOIN r b
        ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 8
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    )
    SELECT block,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(d) AS BIGINT) AS min_d,
           CAST(SUM(d) AS BIGINT) AS sum_d,
           CAST(MIN(a_id * 10000000 + b_id) AS BIGINT) AS min_pair
    FROM pairs GROUP BY block ORDER BY block
    """,
    "BOUNDED fuzzy linkage — operators/fuzzy.py::"
    "sorted_neighborhood_pairs (Hernandez & Stolfo merge/purge): sort "
    "within block by (name, id), compare each record against only the "
    "next 8 in sort order, keep levenshtein<=3. Comparator AND output "
    "are n*window by construction, so this is the member of the fuzzy "
    "family that sweeps at sf10 — q88's exact-within-block form is "
    "output-quadratic on TPC-H's tiny name vocabulary (~5.5e9 pairs at "
    "sf10, excluded with documented substitutes; VERDICT r06 #6). The "
    "oracle rebuilds the identical neighborhood with ROW_NUMBER and an "
    "offset band join, recomputing every kept distance exactly",
)
def q321(spark, sf_dir):
    from kubenetmon_spark.operators.fuzzy import sorted_neighborhood_pairs

    p = _t(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        p,
        id_col="p_partkey",
        text_col="p_name",
        block_col=F.element_at(F.split("p_name", " "), 2),
        max_distance=3,
        window=8,
    )
    return (
        pairs.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("distance").alias("min_d"),
            F.sum("distance").alias("sum_d"),
            F.min(F.col("a_id") * 10000000 + F.col("b_id")).alias(
                "min_pair"
            ),
        )
        .orderBy("block")
    )


# ---------------------------------------------------------------------------
# registry accessors
# ---------------------------------------------------------------------------

def gate_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {g.name: g.spark_fn for g in _REGISTRY}


def gate_oracles() -> dict[str, str]:
    return {g.name: g.oracle for g in _REGISTRY if g.oracle is not None}
