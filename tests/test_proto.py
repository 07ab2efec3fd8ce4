"""Protobuf-wire Observation decoder tests.

Golden bytes are HAND-ASSEMBLED from the public protobuf wire-format
rules (varint keys, fixed32, length-delimited submessages) for the
exact message shape of reference pkg/collector/collector_test.go:259-377
(v4 source 1.0.0.1, v6 destination fe80::dead:beef:70:1, TCP, ports
1/2, counters 10/11/12/13, node "node") — so the decoder is pinned
against the wire format itself, not against this repo's own encoder.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.sources.proto import (
    decode_observation,
    encode_observation,
    encode_observations_df,
    parse_proto_observations,
)

# --- hand-assembled golden bytes (collector_test.go shape) -------------

import ipaddress


def _varint(v: int) -> bytes:  # local, independent of the module's encoder
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | 0x80 if v else b)
        if not v:
            return bytes(out)


V6 = ipaddress.IPv6Address("fe80::dead:beef:70:1").packed
assert len(V6) == 16

# L4Endpoint{v4: 0x01000001 (1.0.0.1), port: 1}
#   field 1 fixed32: key 0x0d, LE payload; field 3 varint: key 0x18
EP_ORIG_SRC = bytes.fromhex("0d010000011801")
# L4Endpoint{v6: fe80::dead:beef:70:1, port: 2}
EP_ORIG_DST = bytes.fromhex("1210") + V6 + bytes.fromhex("1802")
# reply mirrors: src = orig dst, dst = orig src
EP_REPLY_SRC = bytes.fromhex("1210") + V6 + bytes.fromhex("1802")
EP_REPLY_DST = bytes.fromhex("0d010000011801")

def _len_prefixed(key: int, payload: bytes) -> bytes:
    assert len(payload) < 128
    return bytes([key, len(payload)]) + payload

# FlowTuple{source=1, destination=2, packets=3, bytes=4}
TUPLE_ORIG = (
    _len_prefixed(0x0A, EP_ORIG_SRC)
    + _len_prefixed(0x12, EP_ORIG_DST)
    + bytes.fromhex("180a")  # packets = 10
    + bytes.fromhex("200b")  # bytes = 11
)
TUPLE_REPLY = (
    _len_prefixed(0x0A, EP_REPLY_SRC)
    + _len_prefixed(0x12, EP_REPLY_DST)
    + bytes.fromhex("180c")  # packets = 12
    + bytes.fromhex("200d")  # bytes = 13
)
# Flow{proto=6 (TCP), original=2, reply=3}
FLOW = (
    bytes.fromhex("0806")
    + _len_prefixed(0x12, TUPLE_ORIG)
    + _len_prefixed(0x1A, TUPLE_REPLY)
)
# Observation{flow=1, node_name="node"=2, timestamp=1700000000=3}
GOLDEN = (
    _len_prefixed(0x0A, FLOW)
    + _len_prefixed(0x12, b"node")
    + bytes.fromhex("18") + _varint(1_700_000_000)
)


class TestDecode:
    def test_golden_collector_shape(self):
        row = decode_observation(GOLDEN)
        assert row["node_name"] == "node"
        assert row["ts_seconds"] == 1_700_000_000
        assert row["proto"] == 6
        assert row["orig_src_ip"] == "1.0.0.1"
        assert row["orig_src_v6"] is None
        assert row["orig_src_port"] == 1
        assert row["orig_dst_ip"] is None
        assert row["orig_dst_v6"] == "fe80::dead:beef:70:1"
        assert row["orig_dst_port"] == 2
        assert row["orig_packets"] == 10 and row["orig_bytes"] == 11
        assert row["reply_src_v6"] == "fe80::dead:beef:70:1"
        assert row["reply_dst_ip"] == "1.0.0.1"
        assert row["reply_packets"] == 12 and row["reply_bytes"] == 13

    def test_encoder_reproduces_golden_bytes(self):
        row = decode_observation(GOLDEN)
        assert encode_observation(row) == GOLDEN

    def test_unknown_fields_skipped(self):
        # append an unknown field 15 (varint) and 16 (length-delimited)
        # at the top level: a forward-compatible decoder ignores both
        extra = bytes.fromhex("782a") + bytes.fromhex("820103616263")
        row = decode_observation(GOLDEN + extra)
        assert row["node_name"] == "node" and row["orig_packets"] == 10

    def test_proto3_defaults(self):
        # empty message: all defaults, no crash
        row = decode_observation(b"")
        assert row["node_name"] == "" and row["ts_seconds"] == 0
        assert row["orig_src_ip"] is None and row["orig_src_port"] == 0
        assert row["orig_packets"] == 0

    @pytest.mark.parametrize(
        "bad",
        [
            b"\x0a\xff",          # length overruns buffer
            b"\x0d\x01\x02",      # truncated fixed32
            b"\x80\x80",          # truncated varint
            b"\x0c\x00",          # wire type 4 (deprecated groups)
        ],
    )
    def test_malformed_raises(self, bad):
        with pytest.raises(ValueError):
            decode_observation(bad)

    @pytest.mark.parametrize(
        "field", ["ts_seconds", "orig_packets", "orig_bytes", "reply_bytes"]
    )
    def test_uint64_over_int64_raises(self, field):
        # A structurally-valid message whose uint64 varint exceeds int64
        # max must raise (-> skip-and-continue drops the row) rather
        # than reach the Arrow batch and kill the stream with
        # ArrowInvalid (ADVICE r02).
        row = {"node_name": "evil", "ts_seconds": 1, "proto": 6, field: 2**63}
        with pytest.raises(ValueError):
            decode_observation(encode_observation(row))


class TestSparkRoundtrip:
    def test_demo_observations_roundtrip(self, spark):
        from kubenetmon_spark.demo import build_flow_inputs

        obs, _, _, _ = build_flow_inputs(spark, "/root/testdata/sf0.001")
        obs = obs.limit(200)
        encoded = encode_observations_df(obs)
        decoded = parse_proto_observations(encoded)
        want = obs.withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
        assert [(f.name, f.dataType) for f in decoded.schema.fields] == [
            (f.name, f.dataType) for f in want.schema.fields
        ]
        a = sorted(map(tuple, want.collect()))
        b = sorted(map(tuple, decoded.collect()))
        assert a == b

    def test_malformed_payloads_dropped_stream_alive(self, spark):
        rows = [
            (bytearray(GOLDEN),),
            (bytearray(b"\x0d\x01"),),  # truncated -> dropped
            (None,),                     # null payload -> dropped
            (bytearray(encode_observation({"node_name": "n2", "ts_seconds": 5, "proto": 17})),),
            (bytearray(encode_observation({"ts_seconds": 9})),),  # no node -> dropped
        ]
        df = spark.createDataFrame(rows, "value binary")
        out = parse_proto_observations(df)
        got = {r.node_name for r in out.collect()}
        assert got == {"node", "n2"}

    def test_hostile_uint64_dropped_batch_survives(self, spark):
        # One valid row, one structurally-valid row carrying a uint64
        # timestamp above int64 max. The hostile row must be dropped
        # per-message; the batch (and the valid row) must survive.
        evil = encode_observation(
            {"node_name": "evil", "ts_seconds": 2**64 - 1, "proto": 6}
        )
        big = encode_observation(
            {"node_name": "big", "ts_seconds": 7, "proto": 6,
             "orig_bytes": 2**63 + 42}
        )
        rows = [(bytearray(GOLDEN),), (bytearray(evil),), (bytearray(big),)]
        df = spark.createDataFrame(rows, "value binary")
        got = {r.node_name for r in parse_proto_observations(df).collect()}
        assert got == {"node"}

    def test_timestamp_past_microseconds_dropped_batch_survives(self, spark):
        # 2^62 s fits int64 but not int64 microseconds: kept, it failed
        # timestamp_seconds with a long overflow on every retry
        edge = (2**63 - 1) // 1_000_000
        rows = [
            (bytearray(GOLDEN),),
            (bytearray(encode_observation({"node_name": "evil", "ts_seconds": 2**62})),),
            (bytearray(encode_observation({"node_name": "edge", "ts_seconds": edge})),),
        ]
        df = spark.createDataFrame(rows, "value binary")
        out = parse_proto_observations(df).select(
            "node_name", F.col("ts").cast("long").alias("s")
        )
        got = {r.node_name: r.s for r in out.collect()}
        assert set(got) == {"node", "edge"} and got["edge"] == edge


class TestFuzz:
    """Adversarial decode robustness: arbitrary bytes must either decode
    to a schema-valid row or raise ValueError/UnicodeDecodeError (the two
    exceptions the streaming path's skip-and-continue catches) — never
    crash with anything else, never return out-of-range values that
    would poison an Arrow batch downstream."""

    def test_arbitrary_bytes_never_escape_contract(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        I64 = 2**63

        @settings(max_examples=400, deadline=None)
        @given(st.binary(max_size=200))
        def check(buf):
            try:
                row = decode_observation(buf)
            except (ValueError, UnicodeDecodeError):
                return
            assert -I64 <= row["ts_seconds"] < I64
            assert 0 <= row["proto"] < 2**31
            for side in ("orig", "reply"):
                assert -I64 <= row[f"{side}_packets"] < I64
                assert -I64 <= row[f"{side}_bytes"] < I64
                for end in ("src", "dst"):
                    assert 0 <= row[f"{side}_{end}_port"] <= 0xFFFF

        check()

    def test_mutated_golden_bytes_never_escape_contract(self):
        # bit-flips of a VALID message probe deeper decode paths than
        # pure random bytes (which mostly die at the first varint)
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=400, deadline=None)
        @given(
            st.integers(0, len(GOLDEN) - 1),
            st.integers(0, 7),
        )
        def check(pos, bit):
            buf = bytearray(GOLDEN)
            buf[pos] ^= 1 << bit
            try:
                row = decode_observation(bytes(buf))
            except (ValueError, UnicodeDecodeError):
                return
            assert isinstance(row["node_name"], str)
            assert 0 <= row["ts_seconds"] < 2**63

        check()
