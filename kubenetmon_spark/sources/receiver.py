"""Thin ingest receiver: agents push protobuf ``Observation`` bytes,
the receiver lands them as parquet files a Structured Streaming job
consumes — the process boundary the reference implements as a gRPC
server (reference cmd/server/server.go:61-118,
pkg/grpc/flow_handler.proto:8-13), re-expressed for a Spark engine
whose ingest contract is "observations land in a stream table"
(SURVEY.md §2 S2).

Wire format: ``POST /observations`` with a body of varint-length-
prefixed ``Observation`` messages (the standard protobuf streaming
framing; a single unprefixed message also works via
``?framing=single``). Every message is decoded once, at the door: a
message that does not decode rejects the whole request with HTTP 400
and a count, mirroring the reference server's skip-and-continue
accounting (server.go:100-113). The receiver then lands the decoded
rows of each request as ONE parquet file typed by
``OBSERVATION_SCHEMA`` (``ts`` as UTC microseconds; rows without a
``node_name`` dropped, as ``parse_proto_observations`` drops them),
written atomically (tmp + rename) so a running file stream never reads
a partial file. The file also keeps each row's wire record in a binary
``value`` column, so ``parse_proto_observations`` still reads it; the
stream never does, since parquet prunes the column. The stream side,
:func:`read_received_observations`, is a typed parquet scan: no
trigger decodes protobuf or starts a Python worker.

Scale posture: this example is the EDGE of the system, not the
engine — one instance per ingest zone, no Spark session at serve time
(pyarrow writes the files). Each request costs one decode and one
parquet append; batching lives in the agent (the reference's
batchSize / batchSendTimeout live client-side there too).

Deployment notes live in MIGRATION.md ("Ingest boundary"; item 14 for
the landing format).
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from kubenetmon_spark.schema import OBSERVATION_SCHEMA
from kubenetmon_spark.sources.proto import decode_observation


def frame_messages(messages: list[bytes]) -> bytes:
    """varint-length-prefix framing (the client half)."""
    out = bytearray()
    for m in messages:
        v = len(m)
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                break
        out += m
    return bytes(out)


def unframe_messages(body: bytes) -> list[bytes]:
    """Inverse of :func:`frame_messages`; raises ValueError on a
    truncated body (the whole request is rejected — no partial
    accept)."""
    out: list[bytes] = []
    i, n = 0, len(body)
    while i < n:
        shift = v = 0
        while True:
            if i >= n:
                raise ValueError("truncated varint length prefix")
            byte = body[i]
            i += 1
            v |= (byte & 0x7F) << shift
            shift += 7
            if not byte & 0x80:
                break
            if shift > 35:
                raise ValueError("varint length prefix too long")
        if i + v > n:
            raise ValueError("truncated message body")
        out.append(body[i : i + v])
        i += v
    return out


class ObservationReceiver:
    """HTTP landing-dir receiver. Start/stop around a streaming job:

    >>> rx = ObservationReceiver(landing_dir)
    >>> rx.start()            # serves on 127.0.0.1:<port>
    >>> ... agents POST ...
    >>> rx.stop()

    ``stats`` counts accepted/rejected messages and landed files.
    """

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.host, self.port = host, port
        self.stats = {"accepted": 0, "rejected": 0, "files": 0}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()
        # a landed file: OBSERVATION_SCHEMA as tables.local_df types it,
        # then the wire record
        self._schema = to_arrow_schema(OBSERVATION_SCHEMA).append(
            pa.field("value", pa.binary())
        )

    # -- landing ---------------------------------------------------------
    def _land(self, messages: list[bytes], rows: list[dict]) -> None:
        """Land accepted messages and their decoded rows
        (``decode_observation`` output, one per message) as one typed
        parquet file. Rows without a ``node_name`` are dropped; a
        request left with none lands no file."""
        kept = [i for i, r in enumerate(rows) if r["node_name"]]
        if kept:
            columns = []
            for field in self._schema:
                if field.name == "value":
                    values = [messages[i] for i in kept]
                elif field.name == "ts":
                    values = [rows[i]["ts_seconds"] * 1_000_000 for i in kept]
                else:
                    values = [rows[i][field.name] for i in kept]
                columns.append(pa.array(values, type=field.type))
            table = pa.Table.from_arrays(columns, schema=self._schema)
            os.makedirs(self.landing_dir, exist_ok=True)
            name = f"obs-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"
            tmp = os.path.join(self.landing_dir, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(self.landing_dir, name))
        with self._lock:
            self.stats["accepted"] += len(messages)
            if kept:
                self.stats["files"] += 1

    # -- server ----------------------------------------------------------
    def start(self) -> "ObservationReceiver":
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet the test logs
                pass

            def do_POST(self):
                if self.path.split("?")[0] != "/observations":
                    self.send_error(404)
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                    body = self.rfile.read(length)
                    if "framing=single" in self.path:
                        messages = [body] if body else []
                    else:
                        messages = unframe_messages(body)
                    # decode at the door (reject whole request on any
                    # bad message — the agent retries)
                    rows = [decode_observation(m) for m in messages]
                except (ValueError, UnicodeDecodeError) as e:
                    with receiver._lock:
                        receiver.stats["rejected"] += 1
                    self.send_error(400, explain=str(e)[:200])
                    return
                if messages:
                    receiver._land(messages, rows)
                self.send_response(204)
                self.end_headers()

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)


def read_received_observations(spark, landing_dir: str, max_files_per_trigger=None):
    """The streaming-side counterpart: landing dir -> observation rows
    (OBSERVATION_SCHEMA), ready for start_flow_stream. A typed parquet
    scan; the plan holds no Python node.

    A file landed by an older receiver holds only the binary ``value``
    column and would read as all-NULL rows, which the labeler drops
    without a word: such a row fails the stream instead."""
    reader = spark.readStream.schema(OBSERVATION_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    node = F.col("node_name")
    legacy = F.raise_error(
        F.lit(
            f"a landing file in {landing_dir} has no typed observation "
            "columns: it holds binary rows from an older receiver. Drain "
            "or convert it first (MIGRATION.md, item 14)."
        )
    )
    return reader.parquet(landing_dir).withColumn(
        "node_name", F.when(node.isNull(), legacy).otherwise(node)
    )
