"""Ingest receiver integration: encode -> HTTP POST -> landing dir ->
stream -> full labeler pipeline -> the q34-shaped per-class sums."""

from __future__ import annotations

import os
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.sources.receiver import (
    ObservationReceiver,
    frame_messages,
    unframe_messages,
)

SF_DIR = "/root/testdata/sf0.001"


def _post(url: str, body: bytes) -> int:
    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


class TestFraming:
    def test_roundtrip(self):
        msgs = [b"", b"a", b"x" * 300, bytes(range(256))]
        assert unframe_messages(frame_messages(msgs)) == msgs

    def test_truncated_rejected(self):
        body = frame_messages([b"hello world"])
        with pytest.raises(ValueError):
            unframe_messages(body[:-3])


class TestEndToEnd:
    def test_encode_post_stream_label(self, spark, tmp_path):
        from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
        from kubenetmon_spark.operators.flows import (
            summing_aggregate,
            to_flow_rows,
        )
        from kubenetmon_spark.operators.label import (
            label_flows,
            split_rejected,
        )
        from kubenetmon_spark.sink import read_flows
        from kubenetmon_spark.sources.proto import encode_observation
        from kubenetmon_spark.sources.receiver import (
            read_received_observations,
        )
        from kubenetmon_spark.streaming.job import start_flow_stream

        obs, pods, nodes, prefixes = build_flow_inputs(spark, SF_DIR)
        obs = obs.filter(F.col("orig_src_port") % 40 == 0)  # small slice
        rows = [r.asDict() for r in obs.collect()]
        assert len(rows) > 10
        for r in rows:
            r["ts_seconds"] = int(r["ts"].timestamp())

        landing = str(tmp_path / "landing")
        rx = ObservationReceiver(landing).start()
        try:
            url = f"http://127.0.0.1:{rx.port}/observations"
            # agents batch client-side; ship in a few framed requests
            payload = [encode_observation(r) for r in rows]
            third = max(1, len(payload) // 3)
            for i in range(0, len(payload), third):
                assert _post(url, frame_messages(payload[i : i + third])) == 204
            # a corrupt message rejects the WHOLE request, lands nothing
            n_files = rx.stats["files"]
            assert (
                _post(url, frame_messages([b"\x99garbage"])) == 400
            )
            assert rx.stats["files"] == n_files
            assert rx.stats["rejected"] == 1
            # wrong path 404s
            assert _post(f"http://127.0.0.1:{rx.port}/nope", b"") == 404
        finally:
            rx.stop()

        # stream the landed files through the FULL pipeline
        q = start_flow_stream(
            read_received_observations(spark, landing),
            str(tmp_path / "flows"),
            str(tmp_path / "ckpt"),
            pods,
            nodes,
            prefixes,
            DEMO_CFG,
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)

        got = (
            read_flows(spark, str(tmp_path / "flows"))
            .groupBy("connectionClass", "direction")
            .agg(
                F.sum("bytes").alias("bytes"),
                F.sum("packets").alias("packets"),
            )
        )
        # oracle: the same observations through the BATCH pipeline
        accepted, _ = split_rejected(
            label_flows(obs, pods, nodes, prefixes, DEMO_CFG)
        )
        want = (
            summing_aggregate(to_flow_rows(accepted))
            .groupBy("connectionClass", "direction")
            .agg(
                F.sum("bytes").alias("bytes"),
                F.sum("packets").alias("packets"),
            )
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def _wire_rows(n: int) -> list[dict]:
    return [
        {
            "node_name": f"node-{i % 3}",
            "ts_seconds": 1_700_000_000 + i,
            "proto": 6 if i % 2 else 17,
            "orig_src_ip": f"10.0.0.{i}",
            "orig_src_port": 1000 + i,
            "orig_dst_v6": "2001:db8::1",
            "orig_dst_port": 443,
            "orig_packets": i + 1,
            "orig_bytes": 100 * (i + 1),
            "reply_bytes": 7 * i,
        }
        for i in range(n)
    ]


class TestTypedLanding:
    def test_landed_rows_are_typed_and_read_without_python(self, spark, tmp_path):
        """The receiver lands the rows it decoded at the door; the stream
        reads them with a plain parquet scan, and they equal what the
        binary decoder makes of the kept wire records."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from kubenetmon_spark.schema import OBSERVATION_SCHEMA
        from kubenetmon_spark.sources.proto import (
            encode_observation,
            parse_proto_observations,
        )
        from kubenetmon_spark.sources.receiver import (
            read_received_observations,
        )

        rows = _wire_rows(30) + [{"ts_seconds": 5, "proto": 6}]  # no node
        landing = str(tmp_path / "landing")
        rx = ObservationReceiver(landing).start()
        try:
            url = f"http://127.0.0.1:{rx.port}/observations"
            body = frame_messages([encode_observation(r) for r in rows])
            assert _post(url, body) == 204
        finally:
            rx.stop()
        assert rx.stats == {"accepted": 31, "rejected": 0, "files": 1}

        (name,) = [n for n in os.listdir(landing) if not n.startswith(".")]
        assert name.startswith("obs-") and name.endswith(".parquet")
        landed = pq.read_table(os.path.join(landing, name))
        typed = to_arrow_schema(OBSERVATION_SCHEMA)
        assert landed.schema.names == typed.names + ["value"]
        assert [f.type for f in landed.schema][:-1] == [f.type for f in typed]
        assert landed.num_rows == 30  # the node-less row is dropped

        batches, plans = [], []

        def capture(df, _batch_id):
            qe = df._jdf.queryExecution()
            plans.append(qe.executedPlan().toString() + qe.toRdd().toDebugString())
            batches.append([tuple(r) for r in df.collect()])

        q = (
            read_received_observations(spark, landing)
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        wire = parse_proto_observations(spark.read.parquet(landing))
        assert sorted(sum(batches, [])) == sorted(map(tuple, wire.collect()))
        assert plans
        for plan in plans:
            for node in ("PythonRDD", "MapInPandas", "ArrowEvalPython"):
                assert node not in plan, plan

    def test_binary_landing_file_fails_the_stream(self, spark, tmp_path):
        """A file from a receiver that landed only the wire bytes would
        read as all-NULL rows; the stream fails and names the way out."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.errors import StreamingQueryException

        from kubenetmon_spark.sources.proto import encode_observation
        from kubenetmon_spark.sources.receiver import (
            read_received_observations,
        )

        landing = tmp_path / "landing"
        landing.mkdir()
        wire = [encode_observation(r) for r in _wire_rows(3)]
        pq.write_table(
            pa.table({"value": pa.array(wire, pa.binary())}),
            landing / "obs-1-00000000.parquet",
        )
        q = (
            read_received_observations(spark, str(landing))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="MIGRATION.md, item 14"):
            q.awaitTermination(120)

    def test_timestamp_past_microseconds_rejected_at_the_door(self, tmp_path):
        """Spark cannot hold 2^62 s as a timestamp: accepted, it would
        fail every retry of the stream's batch."""
        from kubenetmon_spark.sources.proto import encode_observation

        landing = str(tmp_path / "landing")
        rx = ObservationReceiver(landing).start()
        try:
            url = f"http://127.0.0.1:{rx.port}/observations"
            evil = {"node_name": "n", "ts_seconds": 2**62, "proto": 6}
            assert _post(url, frame_messages([encode_observation(evil)])) == 400
        finally:
            rx.stop()
        assert rx.stats == {"accepted": 0, "rejected": 1, "files": 0}


def test_listing_40_paths_starts_no_job(spark, tmp_path):
    """A trigger picks up tens of landed files: in local mode, listing
    them must not become a Spark job of its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(40):
        paths.append(str(tmp_path / f"f{i:02d}.parquet"))
        pq.write_table(pa.table({"a": [i]}), paths[-1])
    sc = spark.sparkContext
    group = f"listing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read 40 paths")
    try:
        # a given schema: inferring one is a job of its own
        df = spark.read.schema("a long").parquet(*paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 40
