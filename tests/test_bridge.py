"""TCP ingest bridge: varint-delimited proto frames over a socket land
atomically as wire parquet and flow through the normal streaming
pipeline (the push-transport shim for reference agents — reference
cmd/server/server.go:61-118 without the gRPC stack)."""

from __future__ import annotations

import os
import socket
import time

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.sources.bridge import (
    IngestBridge,
    read_bridge_stream,
    send_frames,
)
from kubenetmon_spark.sources.proto import (
    encode_observations_df,
    parse_proto_observations,
)


@pytest.fixture(scope="module")
def wire_frames(spark):
    from kubenetmon_spark.demo import build_flow_inputs

    obs, _, _, _ = build_flow_inputs(spark, "/root/testdata/sf0.001")
    obs = obs.limit(300)
    frames = [bytes(r.value) for r in encode_observations_df(obs).collect()]
    return obs, frames


def _wait(pred, timeout_s=15.0):
    deadline = time.monotonic() + timeout_s
    while not pred() and time.monotonic() < deadline:
        time.sleep(0.05)
    assert pred()


def test_frames_land_and_decode(spark, tmp_path, wire_frames):
    obs, frames = wire_frames
    landing = str(tmp_path / "landing")
    with IngestBridge(landing, flush_interval_s=0.2) as bridge:
        host, port = bridge._host, bridge._port
        # two agents, split stream
        send_frames(host, port, frames[:100])
        send_frames(host, port, frames[100:])
        _wait(lambda: bridge.stats["received"] == len(frames))
    # stop() flushed; all visible files are complete (atomic rename)
    assert bridge.stats == {
        "received": len(frames),
        "dropped": 0,
        "landed": len(frames),
        "files": bridge.stats["files"],
    }
    names = os.listdir(landing)
    assert names and all(n.startswith("obs-") and n.endswith(".parquet") for n in names)

    wire = spark.read.schema("value binary").parquet(landing)
    decoded = parse_proto_observations(wire)
    want = obs.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    assert sorted(map(tuple, decoded.collect())) == sorted(map(tuple, want.collect()))


def test_bad_frames_dropped_at_the_door(tmp_path, wire_frames):
    _, frames = wire_frames
    landing = str(tmp_path / "landing")
    with IngestBridge(landing, flush_interval_s=0.2) as bridge:
        host, port = bridge._host, bridge._port
        # good, garbage, good: the garbage frame decodes to nothing and
        # is dropped; the connection and the good frames survive.
        send_frames(host, port, [frames[0], b"\xff\xfe\xfd\x00garbage", frames[1]])
        _wait(lambda: bridge.stats["received"] == 3)
    assert bridge.stats["dropped"] == 1
    assert bridge.stats["landed"] == 2

    # torn framing (varint promises more bytes than sent) drops the
    # connection without landing the partial frame
    with IngestBridge(landing + "2", flush_interval_s=0.2) as b2:
        with socket.create_connection((b2._host, b2._port)) as s:
            s.sendall(b"\x80\x80")  # unterminated varint
        _wait(lambda: b2.stats["dropped"] == 1)
    assert b2.stats["landed"] == 0

    samples = b2.counter_samples()
    assert any(
        s[0] == "kubenetmon_server_processed_observations_total"
        and s[1] == {"type": "ignored"}
        and s[2] == 1
        for s in samples
    )


def test_bridge_to_streaming_pipeline(spark, tmp_path, wire_frames):
    """End to end: socket -> landing zone -> streaming decode -> labeler
    -> flow table, equal to the batch pipeline over the same rows."""
    from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
    from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
    from kubenetmon_spark.operators.label import label_flows, split_rejected
    from kubenetmon_spark.sink import compact, read_flows
    from kubenetmon_spark.streaming import start_flow_stream

    obs, frames = wire_frames
    _, pods, nodes, prefixes = build_flow_inputs(spark, "/root/testdata/sf0.001")
    landing = str(tmp_path / "landing")
    with IngestBridge(landing, flush_frames=120, flush_interval_s=0.2) as bridge:
        send_frames(bridge._host, bridge._port, frames)
        _wait(lambda: bridge.stats["received"] == len(frames))
    assert bridge.stats["files"] >= 2  # multi-file landing exercised

    q = start_flow_stream(
        read_bridge_stream(spark, landing),
        str(tmp_path / "flows"),
        str(tmp_path / "ckpt"),
        pods,
        nodes,
        prefixes,
        DEMO_CFG,
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)
    compact(spark, str(tmp_path / "flows"))
    got = (
        read_flows(spark, str(tmp_path / "flows"))
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("b"), F.sum("packets").alias("p"))
    )

    sec_obs = obs.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    accepted, _ = split_rejected(label_flows(sec_obs, pods, nodes, prefixes, DEMO_CFG))
    want = (
        summing_aggregate(to_flow_rows(accepted))
        .groupBy("connectionClass", "direction")
        .agg(F.sum("bytes").alias("b"), F.sum("packets").alias("p"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_daemon_entrypoint_drains_and_exports(tmp_path):
    """tools/ingest_bridge.py embedded run: serves, exports the
    Prometheus textfile, drains on stop. No Spark involved."""
    import threading

    import tests.test_proto as tp
    from tools.ingest_bridge import main

    landing = str(tmp_path / "landing")
    prom = str(tmp_path / "kubenetmon.prom")
    ready, stop = threading.Event(), threading.Event()
    t = threading.Thread(
        target=main,
        args=(
            [
                "--landing-dir", landing,
                "--host", "127.0.0.1",
                "--port", "0",
                "--flush-interval-s", "0.2",
                "--metrics-textfile", prom,
            ],
            ready,
            stop,
        ),
        daemon=True,
    )
    t.start()
    assert ready.wait(10)
    host, port = main.bound
    send_frames(host, port, [bytes(tp.GOLDEN)] * 5)
    _wait(lambda: os.path.exists(prom) and "enqueued\"} 5" in open(prom).read(), 15)
    stop.set()
    t.join(timeout=15)
    assert not t.is_alive()
    body = open(prom).read()
    assert 'kubenetmon_server_processed_observations_total{type="enqueued"} 5' in body
    names = os.listdir(landing)
    assert names and all(n.startswith("obs-") for n in names)


def test_framing_roundtrip_arbitrary_bytes(tmp_path):
    """The varint framing codec alone: arbitrary binary frames (incl.
    empty, huge-varint-boundary sizes, 0x80/0x7f patterns) arrive
    intact and in order with validation off."""
    import random

    rng = random.Random(77)
    frames = [
        b"",
        b"\x00",
        b"\x80" * 127,
        b"\x7f" * 128,
        bytes(rng.getrandbits(8) for _ in range(16383)),
        bytes(rng.getrandbits(8) for _ in range(16384)),
    ] + [bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 300))) for _ in range(50)]

    landing = str(tmp_path / "landing")
    with IngestBridge(landing, validate=False, flush_interval_s=0.2) as bridge:
        send_frames(bridge._host, bridge._port, frames)
        _wait(lambda: bridge.stats["received"] == len(frames))
    assert bridge.stats["dropped"] == 0

    import pyarrow.parquet as pq

    got = []
    for name in sorted(os.listdir(landing)):
        got += [
            bytes(v) if v is not None else b""
            for v in pq.read_table(os.path.join(landing, name))["value"].to_pylist()
        ]
    assert sorted(got) == sorted(frames)


def test_timestamp_past_microseconds_dropped(tmp_path, wire_frames):
    from kubenetmon_spark.sources.proto import encode_observation

    _, frames = wire_frames
    evil = encode_observation({"node_name": "n", "ts_seconds": 2**62, "proto": 6})
    with IngestBridge(str(tmp_path / "landing"), flush_interval_s=0.2) as bridge:
        send_frames(bridge._host, bridge._port, [frames[0], evil, frames[1]])
        _wait(lambda: bridge.stats["received"] == 3)
    assert bridge.stats["dropped"] == 1
    assert bridge.stats["landed"] == 2
