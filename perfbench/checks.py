"""Correctness checks. Each returns a list of failure messages (empty
when the output is right); the workloads count every message as one
failed operation. Oracles run in DuckDB over the generated inputs or
over the engine's table files, never through the engine under test.
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow as pa

# Spark result vs DuckDB result: the repo's parity normalisation.
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check_parity import normalize_df  # noqa: E402

sys.path.pop(0)

SUMS_SQL = """
SELECT cls AS connectionClass, 'out' AS direction,
       CAST(SUM(orig_bytes) AS BIGINT) AS bytes, CAST(SUM(orig_packets) AS BIGINT) AS packets
FROM obs WHERE cls <> 'REJECT' GROUP BY cls
UNION ALL
SELECT cls, 'in', CAST(SUM(reply_bytes) AS BIGINT), CAST(SUM(reply_packets) AS BIGINT)
FROM obs WHERE cls <> 'REJECT' GROUP BY cls
"""


def flow_expectation(obs: pa.Table) -> pd.DataFrame:
    """Per-(connectionClass, direction) byte and packet sums the table
    must hold, by construction of the generated observations: the
    source pod is local to the observing node, so ``out`` carries the
    original-direction counters and ``in`` the reply counters; UDP
    observations are rejected."""
    con = duckdb.connect()
    con.register("obs", obs)
    return con.sql(SUMS_SQL).df()


def _rows(df: pd.DataFrame) -> list:
    return normalize_df(df)[1]


def check_flow_sums(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    """``actual``: (connectionClass, direction, bytes, packets) from the
    engine's table."""
    exp, act = _rows(expected), _rows(actual[list(expected.columns)])
    if exp == act:
        return []
    return [f"flow sums differ: expected {exp} got {act}"]


def table_scan(table_dir: str) -> str:
    return (
        f"read_parquet('{table_dir}/date=*/*.parquet', hive_partitioning = true, "
        "hive_types = {'date': DATE})"
    )


def check_compacted(con: duckdb.DuckDBPyConnection, table_dir: str, dim_cols: list[str]) -> list[str]:
    """After compaction every dimension key appears once per partition."""
    keys = ", ".join(
        "CAST(connectionFlags AS VARCHAR)" if c == "connectionFlags" else c for c in dim_cols
    )
    dup = con.sql(
        f"SELECT count(*) FROM (SELECT {keys} FROM {table_scan(table_dir)} "
        f"GROUP BY {keys} HAVING count(*) > 1)"
    ).fetchone()[0]
    return [f"{dup} keys appear more than once in a partition after compaction"] if dup else []


def check_retention(
    before: list[str], dropped: list[str], after: list[str], today: dt.date, keep_days: int
) -> list[str]:
    """Retention drops exactly the date partitions older than the TTL."""
    cutoff = today - dt.timedelta(days=keep_days)
    want = sorted(p for p in before if dt.date.fromisoformat(p.split("=", 1)[1]) < cutoff)
    out = []
    if sorted(dropped) != want:
        out.append(f"retention dropped {sorted(dropped)}, expected {want}")
    if sorted(after) != sorted(set(before) - set(want)):
        out.append("partitions left after retention differ from before minus the dropped ones")
    return out


# --- dashboard ----------------------------------------------------------


def _readable(x: str) -> str:
    steps = [(4, "TiB"), (3, "GiB"), (2, "MiB"), (1, "KiB")]
    sql = "CASE "
    for p, unit in steps:
        sql += (
            f"WHEN {x} >= {1024.0 ** p} THEN "
            f"CAST(CAST({x} / {1024.0 ** p} AS DECIMAL(38,2)) AS VARCHAR) || ' {unit}' "
        )
    return sql + f"ELSE CAST(CAST({x} AS DECIMAL(38,2)) AS VARCHAR) || ' B' END"


def dashboard_oracles(server_app: str, date_min: str, date_max: str, rates: dict) -> dict[str, str]:
    """DuckDB SQL for each dashboard query kind over view ``flows``;
    keys are workloads.QUERY_KINDS."""
    step, window, nb = rates["step_s"], rates["window_s"], rates["n_buckets"]
    return {
        "top_talkers": f"""
            SELECT localPod, remotePod, connectionClass,
                   CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                   {_readable('SUM(bytes)')} AS readable
            FROM flows WHERE direction = 'out'
            GROUP BY 1, 2, 3 ORDER BY total_bytes DESC, 1, 2, 3 LIMIT 20""",
        "cross_az_traffic": f"""
            SELECT localApp, localAvailabilityZone, remoteAvailabilityZone,
                   CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                   CAST(SUM(packets) AS BIGINT) AS total_packets,
                   {_readable('SUM(bytes)')} AS readable
            FROM flows
            WHERE direction = 'out' AND localAvailabilityZone <> ''
              AND remoteAvailabilityZone <> ''
              AND localAvailabilityZone <> remoteAvailabilityZone
              AND connectionClass IN ('INTRA_VPC', 'INTRA_REGION')
            GROUP BY 1, 2, 3""",
        "traffic_to_service": f"""
            SELECT localApp, remoteRegion, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                   {_readable('SUM(bytes)')} AS readable
            FROM flows WHERE direction = 'out' AND remoteService = 's3'
            GROUP BY 1, 2""",
        "connection_posture": """
            SELECT localApp,
                   CAST(COALESCE(SUM(bytes) FILTER (direction = 'out'), 0) AS BIGINT) AS bytes_out,
                   CAST(COALESCE(SUM(bytes) FILTER (direction = 'in'), 0) AS BIGINT) AS bytes_in,
                   CASE WHEN COALESCE(SUM(bytes) FILTER (direction = 'out'), 0) > 0
                        THEN 'outbound' ELSE 'inbound-only' END AS posture
            FROM flows GROUP BY 1""",
        "server_balance": f"""
            WITH i AS (
              SELECT localPod, SUM(bytes) AS total_bytes FROM flows
              WHERE direction = 'in' AND localApp = '{server_app}' GROUP BY 1)
            SELECT localPod, CAST(total_bytes AS BIGINT) AS total_bytes,
                   CAST(floor(total_bytes * 10000 / (SELECT SUM(total_bytes) FROM i)) AS BIGINT) AS share_bp
            FROM i""",
        "node_throughput": """
            SELECT localNode, intervalStartTime, SUM(bytes) / 60.0 AS bytes_per_sec
            FROM flows WHERE direction = 'out' AND localNode <> ''
            GROUP BY 1, 2 ORDER BY bytes_per_sec DESC, 1, 2 LIMIT 20""",
        "pod_traffic_rates": f"""
            WITH s0 AS (
              SELECT localPod AS pod, CAST(epoch(intervalStartTime) AS BIGINT) AS ts_s,
                     SUM(bytes) AS inc
              FROM flows WHERE direction = 'out' GROUP BY 1, 2),
            s AS (
              SELECT pod, ts_s, CAST(SUM(inc) OVER (PARTITION BY pod ORDER BY ts_s) AS BIGINT) AS v
              FROM s0),
            p AS (
              SELECT pod, ts_s, v, lag(ts_s) OVER w AS pts, lag(v) OVER w AS pv
              FROM s WINDOW w AS (PARTITION BY pod ORDER BY ts_s)),
            params AS (
              SELECT (CAST(epoch(min(intervalStartTime)) AS BIGINT) // {step}) * {step} AS start_s
              FROM flows),
            grid AS (
              SELECT CAST(range AS BIGINT) AS i, start_s + CAST(range AS BIGINT) * {step} AS t
              FROM range({nb}), params),
            sa AS (
              SELECT s.pod, g.i, g.t, COUNT(*) AS n_samples,
                     arg_max(s.v, s.ts_s) AS last_v, arg_min(s.v, s.ts_s) AS first_v,
                     max(s.ts_s) AS last_ts, min(s.ts_s) AS first_ts
              FROM grid g JOIN s ON s.ts_s <= g.t AND s.ts_s > g.t - {window}
              GROUP BY 1, 2, 3),
            pa AS (
              SELECT p.pod, g.i,
                     SUM(CASE WHEN p.v < p.pv THEN p.pv ELSE 0 END) AS resets,
                     arg_max(CASE WHEN p.v >= p.pv THEN p.v - p.pv ELSE p.v END, p.ts_s) AS li,
                     arg_max(p.ts_s - p.pts, p.ts_s) AS ld
              FROM grid g JOIN p ON p.ts_s <= g.t AND p.pts > g.t - {window}
              GROUP BY 1, 2)
            SELECT sa.pod, sa.t AS bucket_ts, sa.n_samples, sa.last_v,
                   CASE WHEN n_samples >= 2 THEN last_v - first_v END AS delta,
                   CASE WHEN n_samples >= 2
                        THEN CAST(last_v - first_v + COALESCE(resets, 0) AS BIGINT) END AS increase,
                   CASE WHEN n_samples >= 2 THEN
                     CAST(floor(CAST((last_v - first_v + COALESCE(resets, 0)) * 10000 AS DOUBLE)
                                / (last_ts - first_ts)) AS BIGINT) END AS rate_bp,
                   CAST(floor(CAST(li * 10000 AS DOUBLE) / ld) AS BIGINT) AS irate_bp
            FROM sa LEFT JOIN pa ON pa.pod = sa.pod AND pa.i = sa.i""",
        "guarded_last_7d": f"""
            SELECT CAST(date AS VARCHAR) AS date, connectionClass, CAST(SUM(bytes) AS BIGINT) AS total_bytes
            FROM flows WHERE date >= DATE '{date_min}' AND date <= DATE '{date_max}'
              AND direction = 'out'
            GROUP BY 1, 2""",
    }


def check_query(kind: str, spark_result: pd.DataFrame, oracle_result: pd.DataFrame) -> list[str]:
    s_cols, s_rows = normalize_df(spark_result)
    o_cols, o_rows = normalize_df(oracle_result)
    if s_cols != o_cols:
        return [f"{kind}: columns {s_cols} != oracle {o_cols}"]
    if s_rows != o_rows:
        return [f"{kind}: {len(s_rows)} rows differ from the oracle's {len(o_rows)}"]
    return []


# --- curation -----------------------------------------------------------


def check_groups(groups: list[list[int]], clusters: pd.DataFrame) -> list[str]:
    """Every injected near-duplicate group lands in one cluster.
    ``clusters``: (node, cluster_rep)."""
    rep = dict(zip(clusters["node"].tolist(), clusters["cluster_rep"].tolist()))
    bad = [g[0] for g in groups if len({rep.get(d) for d in g}) != 1 or rep.get(g[0]) is None]
    return [f"{len(bad)} injected groups split or missing, e.g. base doc {bad[:3]}"] if bad else []


def minhash_oracle(docs: pa.Table) -> pd.DataFrame:
    """The gate's MinHash(8)+LSH(4) pair oracle over ``documents``."""
    from kubenetmon_spark.gate import _MINHASH_PAIRS_SQL

    con = duckdb.connect()
    con.register("documents", docs)
    return con.sql(f"WITH {_MINHASH_PAIRS_SQL} SELECT id_1, id_2, jaccard_bp FROM pairs").df()


def check_pairs(spark_pairs: pd.DataFrame, oracle_pairs: pd.DataFrame) -> list[str]:
    return check_query("minhash_lsh_pairs", spark_pairs, oracle_pairs)


def check_kept(kept_ids: list[int], n_docs: int, clusters: pd.DataFrame) -> list[str]:
    """Keeping one document per cluster keeps every singleton and each
    cluster's representative, nothing else."""
    members = set(clusters["node"].tolist())
    reps = set(clusters["cluster_rep"].tolist())
    want = sorted((set(range(n_docs)) - members) | reps)
    got = sorted(kept_ids)
    return [] if got == want else [f"kept {len(got)} documents, expected {len(want)}"]
