"""The workloads: live (the write path) and curation (the batch
operators; its traced run adds the dashboard queries, the read path).
Each drives the engine only through its public functions, measures for
the requested seconds, checks its outputs, and returns a Result: the
end-to-end metrics (the same names on every workload, see
BENCHMARK.json), the named figures of that workload, and the per-layer
figures of a traced run.

Sizes below were set on a 4-core, 15 GiB host so that one untraced run
of either workload, JVM start included, ends within about 80 seconds.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import http.client
import itertools
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.trace import (
    PHASE_METRICS,
    Py4jCounter,
    Tracer,
    beyond,
    commit_times,
    fold_event_log,
    freshness,
    landed_time,
    layer_self_times,
    median,
    min_samples_for,
    parse_file_source_log,
    percentile,
    read_event_log,
    tree_cpu_s,
)

SETUP_REPS = 3

# live: an agent posts a dump of LIVE_DUMP_OBS observations. The offered
# rate is about a fifth of the catch-up rate the burst measures on a
# 4-core host (1,500-2,400 obs/s): at half of the catch-up rate a slower
# host already queues batches and freshness swings with the host. 20 dumps a second
# give the ten samples beyond p95 that freshness_p95_s needs within a
# 10 s window. The open loop runs LIVE_WARM_S before the measured
# window: trigger times keep falling for the first dozen or so triggers
# (by about half on a 4-core host) as the JVM warms up, and a window
# that starts earlier measures how far the warm-up got. The burst is
# LIVE_BURST_DUMPS larger dumps queued by the agents during the steady
# window. Then a backlog of BACKFILL_FILES observation files spread
# over BACKLOG_DAYS days drains through a second, availableNow stream in
# large batches; retention keeps KEEP_DAYS, so the oldest few
# partitions go.
LIVE_DUMP_OBS = 20
LIVE_RATE_OBS_PER_S = 400
LIVE_WARM_S = 20
LIVE_BURST_DUMPS = 120
LIVE_BURST_DUMP_OBS = 50
BACKFILL_FILES = 24
BACKFILL_FILE_OBS = 1000
BACKFILL_FILES_PER_TRIGGER = 12
BACKLOG_DAYS = 33
KEEP_DAYS = 30

# dashboard: 29 compacted days plus today's partition of many small
# files; ANCHOR is its fixed "today".
ANCHOR = dt.date(2026, 1, 31)
DASH_DAYS = 29
DASH_KEYS_PER_DAY = 2000
DASH_TODAY_FILES = 40
DASH_TODAY_KEYS = 4000
DASH_CLIENTS = 2
SERVER_APP = "app-7"
RATES = {"step_s": 300, "window_s": 900, "n_buckets": 48}
# the slowest first, so the parallel warm pass ends soonest
QUERY_KINDS = (
    "pod_traffic_rates",
    "top_talkers",
    "cross_az_traffic",
    "traffic_to_service",
    "connection_posture",
    "server_balance",
    "node_throughput",
    "guarded_last_7d",
)


_T0 = time.time()


def log(msg: str):
    print(f"perfbench: +{time.time() - _T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def flow_cfg():
    from kubenetmon_spark.config import RuntimeConfig

    return RuntimeConfig(
        environment="production", cloud="aws", region=gen.CLUSTER_REGION, cluster="bench"
    )


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def check(self, messages: list[str]):
        """One attempted operation, failed when ``messages`` is not empty."""
        self.attempted += 1
        if messages:
            self.failed += 1
            self.failures.extend(messages)

    def error(self, what: str, exc: BaseException):
        """One attempted operation that raised."""
        self.check([f"{what}: {type(exc).__name__}: {exc}"])


class Ctx:
    """Per-run state shared by the workloads."""

    def __init__(self, spark, work: Path, seed: int, seconds: int, tracer: Tracer, session_start_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.trace = tracer.enabled
        self.session_start_s = session_start_s
        self.py4j = Py4jCounter(spark, tracer) if tracer.enabled else None
        self.phases: dict[str, list[tuple[float, float]]] = {}
        self.stream_batches: dict[tuple[str, int], str] = {}
        self.root = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """A measured phase: tags its Spark jobs with the phase as job
        group and records its wall interval for the event-log fold."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            with self.tracer.span(name, "phase", parent=self.root):
                yield
        finally:
            self.phases.setdefault(name, []).append((t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def df(self, table: pa.Table):
        """Arrow table -> Spark DataFrame through a parquet file in the
        work dir (keeps map and timestamp types exact)."""
        d = self.work / "staging"
        d.mkdir(exist_ok=True)
        path = d / f"t{len(os.listdir(d))}.parquet"
        pq.write_table(table, path)
        return self.spark.read.parquet(str(path))


def _fresh(path: Path) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return str(path)


def _time_setup(ctx: Ctx, res: Result, build) -> object:
    """Run ``build`` SETUP_REPS times; setup_s is the session start plus
    the median rep. Returns the last rep's value."""
    times, out = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        with ctx.tracer.span(f"setup.{i}", "setup"):
            out = build(i)
        times.append(time.perf_counter() - t0)
    log(f"setup reps {[round(t, 2) for t in times]}")
    res.e2e["setup_s"] = ctx.session_start_s + median(times)
    res.named["setup_rep_s"] = times
    return out


def _progress_ms(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"].get(key, 0) for p in progress if key in p.get("durationMs", {})]


def tail_q(n: int) -> int:
    """The highest of p99/p95/p90/p75 with at least ten of ``n``
    distinct samples beyond it (the tail a sample supports), else 50."""
    return next((q for q in (99, 95, 90, 75) if n >= min_samples_for(q)), 50)


def _innermost(spans: list[dict], t: float, skip: tuple[str, ...]) -> dict | None:
    """The latest-starting span open at ``t`` whose layer is not in ``skip``."""
    open_ = [s for s in spans if s["layer"] not in skip and s["start"] <= t <= s["end"]]
    return max(open_, key=lambda s: (s["start"], s["id"])) if open_ else None


def _trigger_spans(ctx: Ctx, progress: list[dict]):
    """One streaming span per trigger, from its progress event, under the
    benchmark span open when it began."""
    spans = list(ctx.tracer.spans)
    for p in progress:
        start, end = _trigger_interval(p)
        parent = _innermost(spans, start, ("engine", "streaming"))
        ctx.tracer.add(f"trigger.{p['batchId']}", "streaming", start, end, parent)


def _trigger_interval(p: dict) -> tuple[float, float]:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _streaming_layer(res: Result, progress: list[dict]):
    """Per-trigger figures of the busy triggers in ``progress``; the busy
    ratio is their trigger time over the span from the first one's start
    to the last one's end."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    trig = _progress_ms(busy, "triggerExecution")
    spans = [_trigger_interval(p) for p in busy]
    window_s = max(e for _, e in spans) - min(s for s, _ in spans) if spans else 0
    res.layer.update(
        {
            "streaming.batches": len(busy),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in busy]) if busy else 0,
            "streaming.trigger_p50_ms": median(trig) if trig else 0,
            "streaming.trigger_p95_ms": percentile(trig, 95) if trig else 0,
            "streaming.add_batch_p50_ms": median(_progress_ms(busy, "addBatch") or [0]),
            "streaming.latest_offset_p50_ms": median(_progress_ms(busy, "latestOffset") or [0]),
            "streaming.wal_commit_p50_ms": median(_progress_ms(busy, "walCommit") or [0]),
            "streaming.commit_offsets_p50_ms": median(_progress_ms(busy, "commitOffsets") or [0]),
            "streaming.busy_ratio": sum(trig) / 1000.0 / window_s if window_s > 0 else 0,
        }
    )


def _table_layout(table: str) -> dict:
    """Files and distinct write jobs per partition of a flow table (a
    Spark write names its files part-<task>-<job uuid>...)."""
    files, jobs = 0, set()
    for part in Path(table).glob("date=*"):
        for f in part.glob("*.parquet"):
            files += 1
            jobs.add((part.name, f.name.split("-", 2)[2][:36]))
    return {"files": files, "partition_writes": len(jobs)}


def _stats(table: str) -> dict:
    from kubenetmon_spark.sink import table_stats

    rows = table_stats(table)
    return {
        "partitions": [r["partition"] for r in rows],
        "multi_file": [r["partition"] for r in rows if r["n_files"] >= 2],
        "bytes_by_partition": {r["partition"]: r["bytes"] for r in rows},
        "files": sum(r["n_files"] for r in rows),
        "rows": sum(r["n_rows"] for r in rows),
        "bytes": sum(r["bytes"] for r in rows),
    }


def _flow_sums_duckdb(table: str):
    import duckdb

    return duckdb.sql(
        "SELECT connectionClass, direction, CAST(SUM(bytes) AS BIGINT) AS bytes, "
        f"CAST(SUM(packets) AS BIGINT) AS packets FROM {checks.table_scan(table)} GROUP BY 1, 2"
    ).df()


def _flowsql_probe(ctx: Ctx, res: Result, pods, nodes, prefixes, sample: pa.Table):
    """Traced runs only: the per-batch SQL text outside the stream. The
    refresh (prefix flatten, label dims, SQL build), a fixed-size batch
    through the text, its exact py4j count, and the fold and reject
    ratios of that batch."""
    from pyspark.sql import functions as F

    from kubenetmon_spark.flowsql import (
        collect_lpm_segments,
        flow_batch_sql,
        labeled_sql,
        register_flow_dim_views,
    )
    from kubenetmon_spark.operators.label import prepare_label_dims, release_label_dims
    from kubenetmon_spark.operators.lpm import disjoint_prefixes

    cfg = flow_cfg()
    t0 = time.perf_counter()
    with ctx.tracer.span("flowsql.refresh", "flowsql"):
        disjoint = disjoint_prefixes(prefixes).repartition(1).persist()
        n_seg = disjoint.count()
        prepared = prepare_label_dims(pods, nodes)
        views = register_flow_dim_views(ctx.spark, prepared, disjoint, tag="perfbench")
        segments = collect_lpm_segments(disjoint)
        args = (cfg, prepared, "_perfbench_obs", *views, segments)
        batch_sql, lab_sql = flow_batch_sql(*args), labeled_sql(*args)
    refresh_s = time.perf_counter() - t0
    obs = ctx.df(sample.drop_columns(["cls"])).persist()
    n_obs = obs.count()
    times, calls, rows = [], [], 0
    for i in range(4):
        before = ctx.py4j.total
        t0 = time.perf_counter()
        with ctx.tracer.span("flowsql.batch", "flowsql"):
            obs.createOrReplaceTempView("_perfbench_obs")
            rows = ctx.spark.sql(batch_sql).count()
        if i:  # the first run compiles
            times.append((time.perf_counter() - t0) * 1000)
            calls.append(ctx.py4j.total - before)
    rejected = ctx.spark.sql(lab_sql).filter(F.col("reject_reason").isNotNull()).count()
    accepted = n_obs - rejected
    res.layer.update(
        {
            "flowsql.refresh_s": refresh_s,
            "flowsql.batch_exec_ms": median(times),
            "flowsql.py4j_calls_per_batch": median(calls),
            "flowsql.lpm_segments": n_seg,
            "flowsql.fold_ratio": rows / (2 * accepted) if accepted else 0,
            "flowsql.reject_ratio": rejected / n_obs if n_obs else 0,
        }
    )
    obs.unpersist()
    disjoint.unpersist()
    release_label_dims(prepared)


# --- live ---------------------------------------------------------------


class _Sender:
    """One generator thread posting framed dumps to the receiver over a
    single keep-alive connection."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)

    def post(self, body: bytes) -> int:
        self.conn.request("POST", "/observations", body=body, headers={"Content-Length": str(len(body))})
        r = self.conn.getresponse()
        r.read()
        return r.status

    def close(self):
        self.conn.close()


def live(ctx: Ctx, res: Result):
    from kubenetmon_spark.sources.receiver import (
        ObservationReceiver,
        frame_messages,
        read_received_observations,
    )
    from kubenetmon_spark.streaming import read_observations, start_flow_stream

    dims = gen.Dims(ctx.seed)
    conns = gen.Connections(dims, ctx.seed)
    rng = np.random.default_rng([ctx.seed, 10])
    cfg = flow_cfg()
    work = ctx.work
    land = work / "landing"
    land.mkdir()
    rx = ObservationReceiver(str(land))
    with ctx.tracer.span("receiver.start", "sources"):
        rx.start()
    sender = _Sender(rx.port)

    pods, nodes, prefixes = frames = ctx.df(dims.pods), ctx.df(dims.nodes), ctx.df(dims.prefixes)

    def build(i):
        with ctx.tracer.span("start_flow_stream", "streaming"):
            q = start_flow_stream(
                read_received_observations(ctx.spark, str(land)),
                _fresh(work / f"flows{i}"),
                _fresh(work / f"ckpt{i}"),
                pods,
                nodes,
                prefixes,
                cfg,
                query_name=f"live{i}",
            )
            # started means idle and polling for files; stopping a query
            # earlier, mid-plan, can fail the next one's planning
            deadline = time.time() + 60
            while (q.status["isTriggerActive"] or not q.status["isDataAvailable"] and not q.recentProgress) and (
                time.time() < deadline
            ):
                time.sleep(0.01)
        if i < SETUP_REPS - 1:
            q.stop()
        return q

    q = _time_setup(ctx, res, build)
    table, ckpt = str(work / f"flows{SETUP_REPS - 1}"), work / f"ckpt{SETUP_REPS - 1}"
    all_obs: list[pa.Table] = []
    sends: list[tuple[float, float, float]] = []
    post_ms: list[float] = []

    def post(obs: pa.Table, scheduled: float, body: bytes | None = None) -> bool:
        if body is None:
            body = frame_messages(gen.encode_dump(obs))
        t0 = time.time()
        try:
            status = sender.post(body)
        except OSError as e:
            res.error("POST", e)
            return False
        t1 = time.time()
        res.check([] if status == 204 else [f"POST answered {status}"])
        if status != 204:
            return False
        all_obs.append(obs)
        sends.append((scheduled, t0, t1))
        post_ms.append((t1 - t0) * 1000)
        return True

    def listed() -> dict[str, int]:
        """Landed files the stream has taken into a batch, by name."""
        src = ckpt / "sources" / "0"
        return parse_file_source_log(src) if src.is_dir() else {}

    def committed(n_files: int, timeout: float):
        """Wait until the stream has committed every landed file."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            fb = listed()
            done = commit_times(ckpt / "commits")
            if len(fb) >= n_files and all(b in done for b in fb.values()):
                return
            time.sleep(0.02)
        raise TimeoutError(f"stream did not commit {n_files} files in {timeout}s")

    def dump(ts_us, n: int = LIVE_DUMP_OBS) -> pa.Table:
        return gen.observations(conns, rng, np.full(n, ts_us, np.int64))

    def now_us() -> int:
        # stamped at creation, like an agent's dump
        return int(time.time() * 1e6)

    # the first trigger compiles the batch query
    t0 = time.time()
    post(dump(now_us()), t0)
    committed(len(sends), 120)
    res.layer["streaming.first_trigger_ms"] = (time.time() - t0) * 1000

    # the burst: dumps the agents queue while the steady window runs,
    # stamped and encoded ahead of time
    burst = [dump(now_us(), LIVE_BURST_DUMP_OBS) for _ in range(LIVE_BURST_DUMPS)]
    burst_bodies = [frame_messages(gen.encode_dump(d)) for d in burst]
    # the backfill backlog: observation files, each observation at a
    # random past minute of the last BACKLOG_DAYS days
    today = dt.datetime.now(dt.timezone.utc).date()
    midnight = dt.datetime.combine(today, dt.time(), dt.timezone.utc).timestamp()
    backlog, backlog_obs = work / "backlog", []
    backlog.mkdir()
    for i in range(BACKFILL_FILES):
        minutes = rng.integers(1, BACKLOG_DAYS * 1440 + 1, BACKFILL_FILE_OBS)
        backlog_obs.append(gen.observations(conns, rng, ((midnight - minutes * 60.0) * 1e6).astype(np.int64)))
        pq.write_table(backlog_obs[-1].drop_columns(["cls"]), backlog / f"obs-{i:03d}.parquet")

    # open loop at a fixed offered rate, one date partition: the warm-up,
    # then the measured steady window
    interval = LIVE_DUMP_OBS / LIVE_RATE_OBS_PER_S
    late_ms: list[float] = []
    start = time.time() + 0.05

    def open_loop(first: int, n: int):
        for i in range(first, first + n):
            due = start + i * interval
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            late_ms.append(max(0.0, time.time() - due) * 1000)
            post(dump(now_us()), due)

    n_warm_dumps = int(LIVE_WARM_S / interval)
    open_loop(0, n_warm_dumps)
    n_warm = len(sends)
    # batches up to the one running now hold no steady dump
    warm_batch = max(listed().values())
    log("live warm-up done")
    cpu0 = tree_cpu_s(os.getpid())
    with ctx.phase("live.steady"):
        open_loop(n_warm_dumps, int(ctx.seconds / interval))
        backlog_end = len(sends) - len(listed())
        # the last steady dumps are taken by a running trigger
        deadline = time.time() + 60
        while len(listed()) < len(sends) and time.time() < deadline:
            time.sleep(0.005)
    steady_batch = max(listed().values())
    n_before = len(sends)

    # the burst lands while the last steady trigger runs, so the stream
    # drains it as a backlog; catch-up is its rows over its trigger time
    with ctx.phase("live.burst"):
        for d, body in zip(burst, burst_bodies):
            post(d, time.time(), body)
        committed(len(sends), 120)
        # the progress event of a batch follows its commit file
        last = max(commit_times(ckpt / "commits"))
        deadline = time.time() + 60
        while max((p["batchId"] for p in q.recentProgress), default=-1) < last and time.time() < deadline:
            time.sleep(0.005)
    burst_obs = LIVE_BURST_DUMPS * LIVE_BURST_DUMP_OBS
    progress = list(q.recentProgress)
    drain = [p for p in progress if p["batchId"] > steady_batch and p.get("numInputRows", 0) > 0]
    drained_rows = sum(p["numInputRows"] for p in drain)
    drain_s = sum(p["durationMs"]["triggerExecution"] for p in drain) / 1000
    res.check([] if drained_rows == burst_obs else [f"burst batches read {drained_rows} of {burst_obs} observations"])
    with ctx.tracer.span("stream.stop", "streaming"):
        q.stop()
    sender.close()
    with ctx.tracer.span("receiver.stop", "sources"):
        rx.stop()
    log("live burst drained, stream stopped")

    # backfill: the backlog through the file source, availableNow, into
    # the same table
    backfill_obs = BACKFILL_FILES * BACKFILL_FILE_OBS
    with ctx.phase("live.backfill"):
        with ctx.tracer.span("start_flow_stream", "streaming"):
            qb = start_flow_stream(
                read_observations(ctx.spark, str(backlog), max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER),
                table,
                _fresh(work / "ckpt-backfill"),
                pods,
                nodes,
                prefixes,
                cfg,
                trigger={"availableNow": True},
                query_name="backfill",
            )
        if not qb.awaitTermination(120):
            qb.stop()
            raise TimeoutError("the backfill stream did not drain its backlog in 120s")
    cpu = tree_cpu_s(os.getpid()) - cpu0
    backfill_progress = [p for p in qb.recentProgress if p.get("numInputRows", 0) > 0]
    backfill_rows = sum(p["numInputRows"] for p in backfill_progress)
    backfill_s = sum(p["durationMs"]["triggerExecution"] for p in backfill_progress) / 1000
    res.check(
        [] if backfill_rows == backfill_obs else [f"backfill batches read {backfill_rows} of {backfill_obs} observations"]
    )
    log("backfill drained")

    # freshness of the steady dumps: landed file -> batch -> commit
    fb = listed()
    fresh, unjoined = freshness(sends[n_warm:n_before], fb, commit_times(ckpt / "commits"))
    if unjoined:
        res.failed += unjoined
        res.failures.append(f"{unjoined} steady dumps could not be joined to a commit")
    res.e2e["cpu_ms_per_item"] = cpu * 1000 / ((n_before - n_warm) * LIVE_DUMP_OBS + burst_obs + backfill_obs)
    # backlog drain rate: the burst and the backfill, over their trigger time
    if drain_s > 0 and backfill_s > 0:
        res.e2e["throughput_per_s"] = (drained_rows + backfill_rows) / (drain_s + backfill_s)
        res.named["catchup_obs_per_s"] = drained_rows / drain_s
        res.named["ingest_obs_per_s"] = backfill_rows / backfill_s
    if fresh:
        q_tail = tail_q(len(fresh))
        res.e2e["latency_p50_s"] = res.named["freshness_p50_s"] = median(fresh)
        res.named.update(
            {
                f"freshness_p{q_tail}_s": percentile(fresh, q_tail),
                "freshness_samples": len(fresh),
                "freshness_tail_beyond": beyond(fresh, q_tail),
            }
        )
    res.named.update(
        {"catchup_batches": len(drain), "backfill_batches": len(backfill_progress), "offered_obs_per_s": LIVE_RATE_OBS_PER_S}
    )

    # correctness: sums, then compaction and retention
    obs = pa.concat_tables(all_obs + backlog_obs)
    expected = checks.flow_expectation(obs)
    before = _stats(table)
    layout = _table_layout(table)
    res.check(checks.check_flow_sums(expected, _flow_sums_duckdb(table)))
    accepted = int(pc.sum(pc.not_equal(obs["cls"], "REJECT")).as_py())
    res.named["stored_bytes_per_obs"] = before["bytes"] / accepted
    cutoff = today - dt.timedelta(days=KEEP_DAYS)
    kept = obs.filter(pc.greater_equal(pc.cast(obs["ts"], pa.date32()), pa.scalar(cutoff, pa.date32())))
    m = _maintain(ctx, res, table, expected, checks.flow_expectation(kept), before, today)
    res.named["maintenance_s"] = m["maintenance_s"]
    batches = max(1, len([p for p in progress if p.get("numInputRows", 0) > 0]) + len(backfill_progress))
    res.layer["sink.files_per_batch"] = layout["files"] / batches
    res.layer["sink.partitions_per_batch"] = layout["partition_writes"] / batches

    # micro-batch jobs carry no job group: name their phase by batch id
    for p in progress:
        b = p["batchId"]
        ctx.stream_batches[(p["id"], b)] = (
            "live.steady" if warm_batch < b <= steady_batch else "live.burst" if b > steady_batch else None
        )
    for p in qb.recentProgress:
        ctx.stream_batches[(p["id"], p["batchId"])] = "live.backfill"
    if ctx.trace:
        # decode throughput over the landed burst, straight through the parser
        from kubenetmon_spark.sources.proto import parse_proto_observations

        burst_files = [str(land / n) for n in sorted(fb, key=landed_time)[-LIVE_BURST_DUMPS:]]
        t0 = time.perf_counter()
        with ctx.tracer.span("parse_proto_observations", "sources"):
            n_dec = parse_proto_observations(ctx.spark.read.parquet(*burst_files)).count()
        res.layer["sources.decode_obs_per_s"] = n_dec / (time.perf_counter() - t0)
        steady_prog = [p for p in progress if warm_batch < p["batchId"] <= steady_batch]
        _streaming_layer(res, steady_prog)
        res.layer["streaming.backlog_files_end"] = backlog_end
        _trigger_spans(ctx, progress + list(qb.recentProgress))
        res.layer.update(
            {
                "sources.post_p50_ms": median(post_ms),
                "sources.post_p95_ms": percentile(post_ms, 95),
                "sources.accepted": rx.stats["accepted"],
                "sources.rejected": rx.stats["rejected"],
                "sources.generator_late_p95_ms": percentile(late_ms, 95),
            }
        )
        _flowsql_probe(ctx, res, *frames, pa.concat_tables(all_obs).slice(0, 5000))


def _maintain(ctx: Ctx, res: Result, table: str, expected, expected_kept, before: dict, today: dt.date) -> dict:
    """compact(presummed) then apply_retention, each timed and checked:
    compaction leaves each key once per partition with unchanged sums;
    retention drops exactly the partitions past the TTL."""
    import duckdb

    from kubenetmon_spark.schema import DIM_COLS
    from kubenetmon_spark.sink import apply_retention, compact

    con = duckdb.connect()
    with ctx.phase("live.maintenance"):
        t0 = time.perf_counter()
        with ctx.tracer.span("compact", "sink"):
            compact(ctx.spark, table, presummed=True)
        compact_s = time.perf_counter() - t0
    res.check(checks.check_compacted(con, table, DIM_COLS))
    res.check(checks.check_flow_sums(expected, _flow_sums_duckdb(table)))
    t0 = time.perf_counter()
    with ctx.tracer.span("table_stats", "sink"):
        compacted = _stats(table)
    stats_ms = (time.perf_counter() - t0) * 1000
    t0 = time.perf_counter()
    with ctx.tracer.span("apply_retention", "sink"):
        dropped = apply_retention(table, keep_days=KEEP_DAYS, today=today)
    retention_s = time.perf_counter() - t0
    after = _stats(table)
    res.check(checks.check_retention(before["partitions"], dropped, after["partitions"], today, KEEP_DAYS))
    res.check(checks.check_flow_sums(expected_kept, _flow_sums_duckdb(table)))
    rewritten = sum(compacted["bytes_by_partition"][p] for p in before["multi_file"])
    m = {
        "compact_s": compact_s,
        "retention_s": retention_s,
        "maintenance_s": compact_s + retention_s,
        "compact_partitions": len(before["multi_file"]),
        "compact_rows_in": before["rows"],
        "compact_rows_out": compacted["rows"],
        "partitions_dropped": len(dropped),
        "table_files_end": after["files"],
        "table_bytes_end": after["bytes"],
        "table_stats_ms": stats_ms,
        # bytes appended plus bytes compaction rewrote, over the compacted size
        "write_amplification": (before["bytes"] + rewritten) / compacted["bytes"],
    }
    res.layer.update({f"sink.{k}": v for k, v in m.items()})
    return m


# --- dashboard ----------------------------------------------------------


def _dashboard_query(spark, table: str, kind: str):
    """The DataFrame for one query kind (built, not executed)."""
    from kubenetmon_spark import queries as Q
    from kubenetmon_spark.sink import read_flows, read_flows_guarded

    if kind == "guarded_last_7d":
        from pyspark.sql import functions as F

        df = read_flows_guarded(
            spark,
            table,
            date_min=str(ANCHOR - dt.timedelta(days=6)),
            date_max=str(ANCHOR),
            max_rows_to_read=50_000_000,
        )
        return (
            df.filter(F.col("direction") == "out")
            .groupBy("date", "connectionClass")
            .agg(F.sum("bytes").alias("total_bytes"))
        )
    flows = read_flows(spark, table)
    if kind == "server_balance":
        return Q.server_balance(flows, SERVER_APP)
    if kind == "traffic_to_service":
        return Q.traffic_to_service(flows, "s3")
    if kind == "pod_traffic_rates":
        return Q.pod_traffic_rates(flows, **RATES)
    return getattr(Q, kind)(flows)


def dashboard(ctx: Ctx, res: Result):
    """The query cookbook and a guarded 7-day read, cycled by
    DASH_CLIENTS closed-loop clients for the run's seconds over 29
    compacted days plus today's partition of small uncompacted files.
    A phase of the traced curation run: its figures are per-layer ones
    and named ones, not end-to-end."""
    from kubenetmon_spark.sink import write_flows

    dims = gen.Dims(ctx.seed)
    conns = gen.Connections(dims, ctx.seed)
    rng = np.random.default_rng([ctx.seed, 30])
    days = [ANCHOR - dt.timedelta(days=d) for d in range(DASH_DAYS, 0, -1)]
    table = _fresh(ctx.work / "dash")
    with ctx.tracer.span("write_flows", "sink"):
        write_flows(ctx.df(gen.flow_rows(dims, conns, rng, days, DASH_KEYS_PER_DAY)), table)
    # today's partition as the stream leaves it: one small file per
    # micro-batch append, not yet compacted
    today = ctx.df(gen.flow_rows(dims, conns, rng, [ANCHOR], DASH_TODAY_KEYS))
    today.repartition(DASH_TODAY_FILES).write.mode("append").partitionBy("date").parquet(table)

    log("dashboard table built")
    lat: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}
    plan_ms, exec_ms, py4j_per_q, preflight_ms = [], [], [], []
    lock = threading.Lock()
    window: dict = {}

    def run(kind: str, span: str, parent: dict | None = None):
        """(DataFrame build seconds, total seconds, result) of one query."""
        t0 = time.perf_counter()
        with ctx.tracer.span(f"{span}.{kind}", "queries", parent):
            df = _dashboard_query(ctx.spark, table, kind)
            t1 = time.perf_counter()
            out = df.toPandas()
        return t1 - t0, time.perf_counter() - t0, out

    def client(cid: int):
        """Cycles through every query kind, starting a query only when
        that kind's last latency still fits the window; every kind runs
        at least once."""
        ctx.spark.sparkContext.setJobGroup("dashboard.queries", f"client{cid}")
        offset = cid * (len(QUERY_KINDS) // DASH_CLIENTS)
        kinds = QUERY_KINDS[offset:] + QUERY_KINDS[:offset]
        last: dict[str, float] = {}
        for i in itertools.count():
            kind = kinds[i % len(kinds)]
            if kind in last and time.time() + last[kind] > window["stop"]:
                break
            before = ctx.py4j.total
            try:
                plan_s, total_s, _ = run(kind, "query", window["span"])
            except Exception as e:  # a failed query is a counted error
                with lock:
                    res.error(kind, e)
                break
            last[kind] = total_s
            with lock:
                res.check([])
                lat[kind].append(total_s)
                plan_ms.append(plan_s * 1000)
                exec_ms.append((total_s - plan_s) * 1000)
                py4j_per_q.append(ctx.py4j.total - before)

    # correctness: every kind against DuckDB over the same files; this
    # pass also compiles every kind before the measured window
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW flows AS SELECT * FROM {checks.table_scan(table)}")
    oracles = checks.dashboard_oracles(SERVER_APP, str(ANCHOR - dt.timedelta(days=6)), str(ANCHOR), RATES)

    def check(kind: str) -> list[str]:
        got = run(kind, "check")[2]
        with con.cursor() as cur:
            want = cur.sql(oracles[kind]).df()
        return checks.check_query(kind, got, want)

    with ThreadPoolExecutor(os.cpu_count()) as pool:
        futures = {kind: pool.submit(check, kind) for kind in QUERY_KINDS}
    for kind, f in futures.items():
        try:
            res.check(f.result())
        except Exception as e:  # a failed query is a counted error
            res.error(kind, e)
    log("dashboard warm pass done")

    cpu0 = tree_cpu_s(os.getpid())
    start = time.time()
    window["stop"] = start + ctx.seconds
    window["span"] = ctx.tracer.add("dashboard.queries", "phase", start, None, ctx.root)
    with ThreadPoolExecutor(DASH_CLIENTS) as pool:
        for f in [pool.submit(client, c) for c in range(DASH_CLIENTS)]:
            f.result()
    end = time.time()
    wall = end - start
    cpu = tree_cpu_s(os.getpid()) - cpu0
    ctx.phases["dashboard.queries"] = [(start, end)]
    if window["span"] is not None:
        window["span"]["end"] = end
    all_lat = [x for v in lat.values() for x in v]
    if all_lat:  # none when every query failed: counted, not measured
        q_tail = tail_q(len(all_lat))
        res.named.update(
            {
                "query_p50_s": median(all_lat),
                f"query_p{q_tail}_s": percentile(all_lat, q_tail),
                "queries_per_s": len(all_lat) / wall,
                "query_cpu_ms": cpu * 1000 / len(all_lat),
                "query_samples": len(all_lat),
                "query_tail_beyond": beyond(all_lat, q_tail),
            }
        )

    from kubenetmon_spark.guards import check_scan_limits

    for _ in range(5):
        t0 = time.perf_counter()
        with ctx.tracer.span("check_scan_limits", "guards"):
            check_scan_limits(
                table,
                min_value=str(ANCHOR - dt.timedelta(days=6)),
                max_value=str(ANCHOR),
                max_rows_to_read=50_000_000,
            )
        preflight_ms.append((time.perf_counter() - t0) * 1000)
    for kind in QUERY_KINDS:
        res.layer[f"queries.{kind}_p50_ms"] = median(lat[kind]) * 1000 if lat[kind] else 0
    st = _stats(table)
    res.layer.update(
        {
            "guards.preflight_ms": median(preflight_ms),
            "sink.table_files_end": st["files"],
            "sink.table_bytes_end": st["bytes"],
        }
    )
    if plan_ms:
        res.layer.update(
            {
                "queries.plan_ms_p50": median(plan_ms),
                "queries.exec_ms_p50": median(exec_ms),
                "queries.py4j_calls_per_query": median(py4j_per_q),
            }
        )


# --- curation -----------------------------------------------------------


def curation(ctx: Ctx, res: Result):
    from pyspark.sql import functions as F

    from kubenetmon_spark.operators.dedup import minhash_lsh_pairs
    from kubenetmon_spark.operators.graph import duplicate_clusters
    from kubenetmon_spark.operators.text import with_quality

    docs_tbl, groups = gen.corpus(ctx.seed)

    def build(i):
        docs = ctx.df(docs_tbl).repartition(ctx.spark.sparkContext.defaultParallelism).persist()
        docs.count()
        return docs

    docs = _time_setup(ctx, res, build)

    def curate(frame):
        """One pass: quality filter, MinHash-LSH pairs, clusters, one
        document kept per cluster. Returns the three step times, the
        pairs, the clusters and the kept doc ids."""
        t0 = time.perf_counter()
        with ctx.phase("curation.text"), ctx.tracer.span("with_quality", "operators"):
            q = with_quality(frame, "text")
            kept_quality = q.filter(F.col("n_tokens") > 0).select("doc_id", "text").persist()
            kept_quality.count()
        t1 = time.perf_counter()
        with ctx.phase("curation.minhash"), ctx.tracer.span("minhash_lsh_pairs", "operators"):
            pairs = minhash_lsh_pairs(kept_quality, "doc_id", "text").localCheckpoint(eager=True)
        t2 = time.perf_counter()
        with ctx.phase("curation.clusters"), ctx.tracer.span("duplicate_clusters", "operators"):
            clusters = duplicate_clusters(pairs).localCheckpoint(eager=True)
            reps = clusters.select(F.col("cluster_rep").alias("doc_id")).distinct()
            members = clusters.select(F.col("node").alias("doc_id"))
            kept = kept_quality.join(members, "doc_id", "left_anti").unionByName(
                kept_quality.join(reps, "doc_id", "left_semi")
            )
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        t3 = time.perf_counter()
        kept_quality.unpersist()
        return (t1 - t0, t2 - t1, t3 - t2), pairs, clusters, kept_ids

    passes, text_s, mh_s, cl_s = [], [], [], []
    out = None
    cpu0 = tree_cpu_s(os.getpid())
    t_end = time.time() + ctx.seconds
    # another pass only when it is expected to end within the window
    while not passes or time.time() + passes[-1] <= t_end:
        try:
            steps, pairs, clusters, kept_ids = curate(docs)
        except Exception as e:  # a failed pass is a counted error
            res.error("curation pass", e)
            break
        res.check([])
        passes.append(sum(steps))
        text_s.append(steps[0])
        mh_s.append(steps[1])
        cl_s.append(steps[2])
        if out is None:
            out = (pairs.toPandas(), clusters.toPandas(), kept_ids)
    cpu = tree_cpu_s(os.getpid()) - cpu0
    res.named["passes"] = len(passes)
    if passes:  # none when the first pass failed: counted, not measured
        per_pass = median(passes)
        # every document completes when its pass ends
        res.e2e.update(
            {
                "latency_p50_s": per_pass,
                "throughput_per_s": gen.CORPUS_DOCS / per_pass,
                "cpu_ms_per_item": cpu * 1000 / (gen.CORPUS_DOCS * len(passes)),
            }
        )
        res.named["curation_docs_per_s"] = res.e2e["throughput_per_s"]
    if out is not None:
        pairs_pdf, clusters_pdf, kept_ids = out
        res.check(checks.check_groups(groups, clusters_pdf))
        res.check(checks.check_pairs(pairs_pdf, checks.minhash_oracle(docs_tbl)))
        res.check(checks.check_kept(kept_ids, gen.CORPUS_DOCS, clusters_pdf))
        res.layer.update(
            {
                "operators.text_s": median(text_s),
                "operators.minhash_s": median(mh_s),
                "operators.clusters_s": median(cl_s),
                "operators.pairs": len(pairs_pdf),
                "operators.clusters": clusters_pdf["cluster_rep"].nunique(),
            }
        )
    if ctx.trace:
        dashboard(ctx, res)


WORKLOADS = {"live": live, "curation": curation}


def engine_layer(ctx: Ctx, res: Result, event_dir: Path):
    """Fold the event log into per-phase metrics, add job spans, and
    roll the measured phases up into the universal ``engine.*`` set."""
    events = read_event_log(event_dir)

    def batch_phase(query_id, batch_id):
        for (qid, bid), ph in ctx.stream_batches.items():
            if bid == batch_id and qid == query_id:
                return ph
        return None

    phases = dict(ctx.phases)
    folded = fold_event_log(events, phases, batch_phase)
    for phase, m in folded.items():
        for k, v in m.items():
            res.layer[f"spark.{phase}.{k}"] = v
    total = dict.fromkeys(PHASE_METRICS, 0.0)
    for phase, m in folded.items():
        for k in PHASE_METRICS:
            total[k] = max(total[k], m[k]) if k == "task_max_over_p50" else total[k] + m[k]
    for k, v in total.items():
        res.layer[f"engine.{k}"] = v
    # job spans under the innermost span (trigger or benchmark call) open
    # at submission
    spans = list(ctx.tracer.spans)
    starts = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            starts[e["Job ID"]] = e["Submission Time"] / 1000.0
        elif e.get("Event") == "SparkListenerJobEnd" and e["Job ID"] in starts:
            t = starts[e["Job ID"]]
            parent = _innermost(spans, t, ("engine",))
            ctx.tracer.add(f"job.{e['Job ID']}", "engine", t, e["Completion Time"] / 1000.0, parent)


def layer_table(ctx: Ctx) -> dict[str, dict]:
    """Per layer: span count, summed self time, and py4j calls."""
    spans = ctx.tracer.spans
    selfs = layer_self_times(spans)
    out = {}
    for s in spans:
        row = out.setdefault(s["layer"], {"spans": 0, "self_s": 0.0, "py4j": 0})
        row["spans"] += 1
        row["py4j"] += s["py4j"]
    for layer, v in selfs.items():
        out[layer]["self_s"] = v
    return out
