"""Streaming pipeline tests: foreachBatch merge-time path (checkpointed,
idempotent, compaction-folded) and the pure-DSL watermarked eager path.
Both must converge to the same answer as the batch pipeline.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs, build_network_flows
from kubenetmon_spark.operators.flows import summing_aggregate
from kubenetmon_spark.operators.lpm import disjoint_prefixes, lpm_lookup, lpm_lookup_disjoint
from kubenetmon_spark.schema import OBSERVATION_SCHEMA
from kubenetmon_spark.sink import compact, read_flows
from kubenetmon_spark.streaming import (
    ingest_metrics,
    parse_kafka_observations,
    read_observations,
    start_flow_stream,
    start_windowed_flow_stream,
    streaming_network_flows,
)

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df):
    cols = sorted(df.columns)
    flat = df.select(*[
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(F.col(c))))).alias(c)
        if dict(df.dtypes)[c].startswith("map") else F.col(c)
        for c in cols
    ])
    return sorted([tuple(r) for r in flat.collect()])


# ---------------------------------------------------------------------------
# Disjoint-interval LPM == reduce LPM
# ---------------------------------------------------------------------------

def test_disjoint_lpm_equals_reduce_lpm(spark):
    prefixes = spark.createDataFrame(
        [
            # nested: /8 containing /16 containing /24, plus a disjoint /12
            ("10.0.0.0/8", 10 * 2**24, 11 * 2**24 - 1, 8, "aws", "amazon", "us-east-1"),
            ("10.1.0.0/16", 10 * 2**24 + 2**16, 10 * 2**24 + 2 * 2**16 - 1, 16, "aws", "s3", "us-west-2"),
            ("10.1.2.0/24", 10 * 2**24 + 2**16 + 2 * 256, 10 * 2**24 + 2**16 + 3 * 256 - 1, 24, "aws", "ec2", "eu-west-1"),
            ("172.16.0.0/12", 172 * 2**24 + 16 * 2**16, 172 * 2**24 + 32 * 2**16 - 1, 12, "gcp", "gce", "us-central1"),
        ],
        "prefix string, net_start long, net_end long, prefix_len int, cloud string, service string, region string",
    )
    # probes: inside each nesting level, at boundaries, and misses
    probe_vals = [
        10 * 2**24,                      # /8 only
        10 * 2**24 + 2**16,              # /16 start
        10 * 2**24 + 2**16 + 2 * 256 + 7,  # /24 interior -> ec2 wins
        10 * 2**24 + 2**16 + 3 * 256,    # just past /24 end -> /16
        11 * 2**24 - 1,                  # /8 end
        11 * 2**24,                      # miss
        172 * 2**24 + 16 * 2**16 + 5,    # /12
        1,                               # miss
    ]
    probes = spark.createDataFrame([(v,) for v in probe_vals], "ip_num long")
    a = _sorted_rows(lpm_lookup(probes, prefixes, "ip_num"))
    b = _sorted_rows(lpm_lookup_disjoint(probes, disjoint_prefixes(prefixes), "ip_num"))
    assert a == b
    # spot-check the nested winner
    got = {
        r.ip_num: r.lpm_prefix
        for r in lpm_lookup_disjoint(probes, disjoint_prefixes(prefixes), "ip_num").collect()
    }
    assert got[10 * 2**24 + 2**16 + 2 * 256 + 7] == "10.1.2.0/24"
    assert got[10 * 2**24 + 2**16 + 3 * 256] == "10.1.0.0/16"
    assert got[11 * 2**24] is None


# ---------------------------------------------------------------------------
# foreachBatch merge-time path
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def stream_inputs(spark, tmp_path_factory):
    obs, pods, nodes, prefixes = build_flow_inputs(spark, SF_DIR)
    obs_dir = tmp_path_factory.mktemp("obs")
    obs.repartition(3).write.mode("overwrite").parquet(str(obs_dir))
    return str(obs_dir), pods, nodes, prefixes


def test_foreachbatch_stream_matches_batch(spark, stream_inputs, tmp_path):
    obs_dir, pods, nodes, prefixes = stream_inputs
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")
    stream = read_observations(spark, obs_dir, max_files_per_trigger=1)
    q = start_flow_stream(
        stream, table, ckpt, pods, nodes, prefixes, DEMO_CFG,
        dead_letter_path=str(tmp_path / "dead"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)
    # pre-compaction: per-batch partial sums coexist, re-aggregation is safe
    raw = read_flows(spark, table)
    expected = build_network_flows(spark, SF_DIR)
    assert raw.agg(F.sum("bytes")).collect()[0][0] == expected.agg(F.sum("bytes")).collect()[0][0]
    # compaction = background merge: rows fold to exactly the batch answer
    compact(spark, table)
    assert _sorted_rows(read_flows(spark, table)) == _sorted_rows(expected)


def test_foreachbatch_checkpoint_restart_no_duplicates(spark, stream_inputs, tmp_path):
    obs_dir, pods, nodes, prefixes = stream_inputs
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")
    run = lambda: start_flow_stream(
        read_observations(spark, obs_dir), table, ckpt, pods, nodes, prefixes,
        DEMO_CFG, trigger={"availableNow": True},
    ).awaitTermination(300)
    run()
    total_once = read_flows(spark, table).agg(F.sum("bytes")).collect()[0][0]
    run()  # restart against the same checkpoint: no new input -> no new rows
    assert read_flows(spark, table).agg(F.sum("bytes")).collect()[0][0] == total_once


def test_kafka_value_parsing(spark):
    import json

    good = {
        "node_name": "node-1", "ts": "2024-03-01T12:00:00", "proto": 6,
        "orig_src_ip": "10.0.0.1", "orig_src_port": 1234,
        "orig_dst_ip": "10.0.0.2", "orig_dst_port": 80,
        "orig_packets": 3, "orig_bytes": 300,
        "reply_src_ip": "10.0.0.2", "reply_src_port": 80,
        "reply_dst_ip": "10.0.0.1", "reply_dst_port": 1234,
        "reply_packets": 2, "reply_bytes": 200,
    }
    kafka_shaped = spark.createDataFrame(
        [(bytearray(json.dumps(good).encode()),), (bytearray(b"not json"),)],
        "value binary",
    )
    rows = parse_kafka_observations(kafka_shaped).collect()
    assert len(rows) == 1  # malformed record dropped, stream stays alive
    r = rows[0]
    assert r.node_name == "node-1" and r.proto == 6 and r.orig_bytes == 300
    assert r.reply_src_ip == "10.0.0.2"


def test_ingest_metrics(spark, stream_inputs, tmp_path):
    obs_dir, pods, nodes, prefixes = stream_inputs
    q = start_flow_stream(
        read_observations(spark, obs_dir), str(tmp_path / "t"), str(tmp_path / "c"),
        pods, nodes, prefixes, DEMO_CFG, trigger={"availableNow": True},
    )
    q.awaitTermination(300)
    m = ingest_metrics(q)
    assert m["num_input_rows"] > 0
    assert m["is_active"] is False


# ---------------------------------------------------------------------------
# Pure-DSL watermarked eager path
# ---------------------------------------------------------------------------

def test_windowed_stream_matches_batch(spark, stream_inputs, tmp_path):
    shared_obs_dir, pods, nodes, prefixes = stream_inputs
    # private copy: this test appends a sentinel file to the source dir
    obs_dir = str(tmp_path / "obs")
    spark.read.parquet(shared_obs_dir).write.parquet(obs_dir)
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_observations(spark, obs_dir)
        flows = streaming_network_flows(stream, pods, nodes, prefixes, DEMO_CFG, watermark="10 minutes")
        q = start_windowed_flow_stream(flows, table, ckpt, trigger={"availableNow": True})
        q.awaitTermination(300)

    run()  # one batch: every real window enters state; none past watermark yet

    # a far-future sentinel observation advances the watermark so all real
    # windows finalize on the next run (its own window stays in state)
    max_ts = spark.read.parquet(obs_dir).agg(F.max("ts")).collect()[0][0]
    sentinel = spark.read.parquet(obs_dir).limit(1).withColumn(
        "ts", F.lit(max_ts + timedelta(hours=2))
    )
    sentinel.write.mode("append").parquet(obs_dir)
    run()

    got = read_flows(spark, table)
    expected = build_network_flows(spark, SF_DIR)
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_windowed_stream_drops_late_data(spark, stream_inputs, tmp_path):
    """The eager path's explicit late-data policy: a row older than the
    watermark is dropped (its window already finalized). The merge-time
    foreachBatch path would have kept it — that's the documented tradeoff
    (SURVEY.md §2.9)."""
    shared_obs_dir, pods, nodes, prefixes = stream_inputs
    obs_dir = str(tmp_path / "obs")
    base = spark.read.parquet(shared_obs_dir).limit(20)
    base.write.parquet(obs_dir)
    max_ts = base.agg(F.max("ts")).collect()[0][0]
    # sentinel far in the future pushes the watermark past every base window
    base.limit(1).withColumn("ts", F.lit(max_ts + timedelta(hours=3))).write.mode(
        "append"
    ).parquet(obs_dir)
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_observations(spark, obs_dir)
        flows = streaming_network_flows(stream, pods, nodes, prefixes, DEMO_CFG, watermark="10 minutes")
        start_windowed_flow_stream(flows, table, ckpt, trigger={"availableNow": True}).awaitTermination(300)

    run()
    before = read_flows(spark, table).agg(F.sum("bytes"), F.count(F.lit(1))).collect()[0]

    # a late observation with a distinctive port, timestamped behind the
    # (checkpointed) watermark
    late = base.limit(1).withColumn("orig_src_port", F.lit(59999))
    late.write.mode("append").parquet(obs_dir)
    run()
    after_df = read_flows(spark, table)
    after = after_df.agg(F.sum("bytes"), F.count(F.lit(1))).collect()[0]
    assert tuple(after) == tuple(before)  # nothing new emitted
    assert after_df.filter(F.col("localPort") == 59999).count() == 0


def test_dead_letter_reasons_match_batch(spark, stream_inputs, tmp_path):
    from kubenetmon_spark.operators.label import label_flows, split_rejected

    obs_dir, pods, nodes, prefixes = stream_inputs
    # The demo observations are all clean — inject rejectable rows so the
    # dead-letter stream has something to count: zero counters, localhost
    # endpoints, and an unsupported protocol.
    clean = spark.read.schema(OBSERVATION_SCHEMA).parquet(obs_dir)
    bad = (
        clean.limit(4).withColumn("orig_bytes", F.lit(0))
        .withColumn("orig_packets", F.lit(0))
        .withColumn("reply_bytes", F.lit(0))
        .withColumn("reply_packets", F.lit(0))
        .unionByName(clean.limit(3).withColumn("orig_src_ip", F.lit("127.0.0.1")))
        .unionByName(clean.limit(2).withColumn("proto", F.lit(1)))
    )
    mixed_dir = str(tmp_path / "obs_mixed")
    clean.unionByName(bad).coalesce(2).write.parquet(mixed_dir)
    q = start_flow_stream(
        read_observations(spark, mixed_dir),
        str(tmp_path / "flows"), str(tmp_path / "ckpt"),
        pods, nodes, prefixes, DEMO_CFG,
        dead_letter_path=str(tmp_path / "dead"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)
    dead = spark.read.parquet(str(tmp_path / "dead"))
    got = {r.reject_reason: r.total for r in
           dead.groupBy("reject_reason").agg(F.sum("n").alias("total")).collect()}
    mixed = spark.read.schema(OBSERVATION_SCHEMA).parquet(mixed_dir)
    _, batch_dead = split_rejected(label_flows(mixed, pods, nodes, prefixes, DEMO_CFG))
    expected = {r.reject_reason: r.n for r in
                batch_dead.groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expected
    assert got["zero_counters"] == 4
    assert got["localhost"] == 3
    assert got["unsupported_proto"] == 2


def test_dim_refresh_between_batches(spark, stream_inputs, tmp_path):
    """A pod dimension change becomes visible to later micro-batches
    when a dim_loader is set — the reference's live informers / daily
    range refresh as a stream concern. With no loader, dims stay frozen
    (and the run equals the batch answer, covered above)."""
    obs_dir, pods, nodes, prefixes = stream_inputs
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")

    renamed = pods.withColumn(
        "name", F.concat(F.col("name"), F.lit("-v2"))
    )
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return renamed, nodes, prefixes

    q = start_flow_stream(
        read_observations(spark, obs_dir, max_files_per_trigger=1),
        table,
        ckpt,
        pods,
        nodes,
        prefixes,
        DEMO_CFG,
        trigger={"availableNow": True},
        dim_loader=loader,
        dim_refresh_batches=2,  # batches 1,3 use stale dims; 2+ refreshed
    )
    q.awaitTermination(300)
    assert calls["n"] >= 1  # loader actually consulted
    pods_seen = {
        r.localPod
        for r in read_flows(spark, table).select("localPod").distinct().collect()
        if r.localPod
    }
    # both generations appear: early batches labeled with original names,
    # post-refresh batches with the renamed dimension
    assert any(p.endswith("-v2") for p in pods_seen)
    assert any(p and not p.endswith("-v2") for p in pods_seen)


def test_flow_stream_on_uri_roots(spark, stream_inputs, tmp_path):
    """The full q34 shape with the TABLE, CHECKPOINT, and DEAD-LETTER
    roots all URI-form (file:) — batch markers, sink appends, and
    compaction all run through the Hadoop FS path, matching the batch
    answer exactly. The deployment shape where everything lives on
    object storage."""
    obs_dir, pods, nodes, prefixes = stream_inputs
    table = "file:" + str(tmp_path / "flows")
    ckpt = "file:" + str(tmp_path / "ckpt")
    stream = read_observations(spark, obs_dir, max_files_per_trigger=1)
    q = start_flow_stream(
        stream, table, ckpt, pods, nodes, prefixes, DEMO_CFG,
        dead_letter_path="file:" + str(tmp_path / "dead"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)
    # exactly-once markers landed next to the URI checkpoint
    import os

    markers = tmp_path / "ckpt" / "_committed_batches"
    assert markers.is_dir() and len(os.listdir(markers)) >= 3
    compact(spark, table)
    expected = build_network_flows(spark, SF_DIR)
    assert _sorted_rows(read_flows(spark, table)) == _sorted_rows(expected)
    # retention through the adapter on the URI root drops partitions
    from kubenetmon_spark.sink import apply_retention

    import datetime as dt

    dropped = apply_retention(table, keep_days=0, today=dt.date(2100, 1, 1))
    assert dropped  # every partition is older than the 2100 cutoff


def test_live_stream_vs_lifecycle_ops_no_lost_rows(spark, stream_inputs, tmp_path):
    """The production race, end-to-end: a REAL micro-batched flow
    stream (one file per trigger, append intents published by
    foreachBatch) while a lifecycle thread hammers the same table with
    table-wide compacts and an identity mutation. The guard protocol
    must serialize every collision; the final compacted table is
    EXACTLY the one-shot batch answer — not a row lost to an overwrite
    window, not a batch dropped by a lock (row-preserving ops only, so
    exact equality is the invariant)."""
    import threading

    from kubenetmon_spark.sink import mutate

    obs_dir, pods, nodes, prefixes = stream_inputs
    table = str(tmp_path / "flows")
    ckpt = str(tmp_path / "ckpt")
    q = start_flow_stream(
        read_observations(spark, obs_dir, max_files_per_trigger=1),
        table, ckpt, pods, nodes, prefixes, DEMO_CFG,
        trigger={"availableNow": True},
    )
    errs: list[Exception] = []
    stop = threading.Event()

    def lifecycle():
        import os

        while not stop.is_set():
            try:
                if os.path.isdir(table) and any(
                    n.startswith("date=") for n in os.listdir(table)
                ):
                    compact(spark, table)  # table-wide: the coarse lock
                    mutate(
                        spark, table, "direction = 'out'",
                        {"bytes": "bytes + 0"},
                    )
            except Exception as exc:  # pragma: no cover
                errs.append(exc)
                return
    t = threading.Thread(target=lifecycle)
    t.start()
    try:
        q.awaitTermination(600)
    finally:
        stop.set()
        t.join(120)
    assert not t.is_alive() and errs == []
    compact(spark, table)
    expected = build_network_flows(spark, SF_DIR)
    assert _sorted_rows(read_flows(spark, table)) == _sorted_rows(expected)


# ---------------------------------------------------------------------------
# Forced crashes inside the flow sink's commit (stage -> publish -> mark)
# ---------------------------------------------------------------------------

def _staged_batch(path: str) -> str | None:
    """The batch id of a path under ``_staging/<stream>/<batch>``."""
    if "/_staging/" not in path:
        return None
    parts = path.split("/_staging/", 1)[1].split("/")
    return parts[1] if len(parts) > 1 else None


def _sink_totals(spark, table, dead):
    total = read_flows(spark, table).agg(F.sum("bytes")).collect()[0][0]
    by_reason = {
        r.reject_reason: r.total
        for r in spark.read.parquet(dead)
        .groupBy("reject_reason")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    return total, by_reason


@pytest.fixture(scope="module")
def crash_inputs(spark, stream_inputs, tmp_path_factory):
    """Three observation files, each carrying rejectable rows, and the
    table sum and dead-letter counts of one clean run over them."""
    obs_dir, pods, nodes, prefixes = stream_inputs
    port = F.col("orig_src_port")
    mixed = (
        spark.read.schema(OBSERVATION_SCHEMA).parquet(obs_dir)
        .withColumn("proto", F.when(port % 7 == 0, F.lit(1)).otherwise(F.col("proto")))
        .withColumn(
            "orig_src_ip",
            F.when(port % 11 == 0, F.lit("127.0.0.1")).otherwise(F.col("orig_src_ip")),
        )
    )
    root = tmp_path_factory.mktemp("crash")
    mixed_dir = str(root / "obs")
    mixed.repartition(3).write.parquet(mixed_dir)
    start_flow_stream(
        read_observations(spark, mixed_dir, max_files_per_trigger=1),
        str(root / "flows"), str(root / "ckpt"), pods, nodes, prefixes, DEMO_CFG,
        dead_letter_path=str(root / "dead"), trigger={"availableNow": True},
    ).awaitTermination(300)
    total, by_reason = _sink_totals(spark, str(root / "flows"), str(root / "dead"))
    assert total > 0 and {"unsupported_proto", "localhost"} <= set(by_reason)
    return mixed_dir, total, by_reason


@pytest.mark.parametrize(
    "fault", ["stage_write", "before_publish", "after_first_rename", "marker_write"]
)
def test_flow_sink_crash_then_restart_counts_each_batch_once(
    spark, stream_inputs, crash_inputs, tmp_path, monkeypatch, fault
):
    """Batch 1 crashes at one point of its commit; a restart on the same
    checkpoint must leave exactly the clean run's table sum and
    dead-letter counts — nothing lost, nothing published twice — and no
    staged files behind."""
    from kubenetmon_spark import fs as fsm
    from kubenetmon_spark.streaming import job

    _, pods, nodes, prefixes = stream_inputs
    mixed_dir, clean_total, clean_dead = crash_inputs
    table, dead = str(tmp_path / "flows"), str(tmp_path / "dead")
    fired: list[str] = []

    def crash(where: str):
        fired.append(where)
        raise OSError(f"injected crash: {fault} at {where}")

    if fault == "stage_write":
        real_write = job.append_by_date

        def append_by_date(df, path):
            real_write(df, path)  # the flow rows land; the stage is not complete
            if not fired and _staged_batch(path) == "1":
                crash(path)

        monkeypatch.setattr(job, "append_by_date", append_by_date)
    elif fault in ("before_publish", "after_first_rename"):
        real_rename = fsm.LocalFS.rename_no_replace

        def rename_no_replace(self, src, dst):
            if not fired and _staged_batch(src) == "1":
                if fault == "after_first_rename":
                    real_rename(self, src, dst)
                crash(src)
            real_rename(self, src, dst)

        monkeypatch.setattr(fsm.LocalFS, "rename_no_replace", rename_no_replace)
    else:
        real_put = fsm.LocalFS.write_bytes_atomic

        def write_bytes_atomic(self, path, data):
            if not fired and path.endswith("_committed_batches/1"):
                crash(path)
            real_put(self, path, data)

        monkeypatch.setattr(fsm.LocalFS, "write_bytes_atomic", write_bytes_atomic)

    def run():
        start_flow_stream(
            read_observations(spark, mixed_dir, max_files_per_trigger=1),
            table, str(tmp_path / "ckpt"), pods, nodes, prefixes, DEMO_CFG,
            dead_letter_path=dead, trigger={"availableNow": True},
        ).awaitTermination(300)

    with pytest.raises(Exception, match="injected crash"):
        run()
    assert len(fired) == 1
    run()  # restart on the same checkpoint: batch 1 is retried
    assert _sink_totals(spark, table, dead) == (clean_total, clean_dead)
    assert not list((tmp_path / "flows").glob("_staging/*/*"))
    assert not list((tmp_path / "dead").glob("_staging/*/*"))


def test_stage_write_runs_its_text_as_planned(spark, stream_inputs, tmp_path, monkeypatch):
    """Each stage write is one SQL text run without adaptive execution,
    sorted on (date, key…), one file per date; the caller's session
    keeps adaptive execution."""
    import re

    from kubenetmon_spark.schema import PRIMARY_KEY_PREFIX
    from kubenetmon_spark.streaming import job
    from tests.fixtures import unsorted_files

    obs_dir, pods, nodes, prefixes = stream_inputs
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plans, files_per_date = [], []
    real_write = job.append_by_date

    def append_by_date(df, path):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        real_write(df, path)
        files_per_date.extend(
            len(list(d.glob("*.parquet"))) for d in Path(path).glob("date=*")
        )

    monkeypatch.setattr(job, "append_by_date", append_by_date)
    table = tmp_path / "flows"
    start_flow_stream(
        read_observations(spark, obs_dir, max_files_per_trigger=1),
        str(table), str(tmp_path / "ckpt"), pods, nodes, prefixes, DEMO_CFG,
        trigger={"availableNow": True},
    ).awaitTermination(300)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert len(plans) == 3 and files_per_date and set(files_per_date) == {1}
    for plan in plans:
        # (a cached dimension inside may keep the adaptive plan it was
        # built with; the micro-batch's own plan is not wrapped in one)
        assert "AdaptiveSparkPlan" not in plan.splitlines()[0]
        top_sort = re.search(r"Sort \[([^\]]*)\]", plan).group(1)
        assert re.findall(r"(\w+)#\d+", top_sort) == ["date", *PRIMARY_KEY_PREFIX]
    assert unsorted_files(table, PRIMARY_KEY_PREFIX) == []


def test_drop_stages_spares_listed_checkpoints(spark, stream_inputs, tmp_path, monkeypatch):
    """``maintain.py drop-stages`` deletes the stage of a stream whose
    checkpoint is gone and never the stage of a listed live one."""
    import sys

    from kubenetmon_spark.sink import checkpoint_stream_id
    from tools.maintain import main

    obs_dir, pods, nodes, prefixes = stream_inputs
    table, ckpt = tmp_path / "flows", str(tmp_path / "ckpt")
    start_flow_stream(
        read_observations(spark, obs_dir), str(table), ckpt, pods, nodes,
        prefixes, DEMO_CFG, trigger={"availableNow": True},
    ).awaitTermination(300)
    live = checkpoint_stream_id(ckpt)
    # a cut commit of the live stream and one of a stream long gone
    for stream in (live, "0f0f0f0f-gone"):
        batch = table / "_staging" / stream / "7" / "date=2024-03-01"
        batch.mkdir(parents=True)
        (batch / "part-0.parquet").write_bytes(b"staged")
    data = sorted(p.name for p in table.glob("date=*/*.parquet"))

    argv = ["maintain.py", "drop-stages", str(table), "--checkpoints", ckpt]
    monkeypatch.setattr(sys, "argv", argv)
    assert main() == 0
    assert [p.name for p in (table / "_staging").iterdir()] == [live]
    assert (table / "_staging" / live / "7" / "date=2024-03-01" / "part-0.parquet").exists()
    assert sorted(p.name for p in table.glob("date=*/*.parquet")) == data
