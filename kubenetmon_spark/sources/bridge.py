"""TCP ingest bridge — the push-transport shim for reference agents.

The reference server accepts a gRPC stream of protobuf ``Observation``
messages (reference cmd/server/server.go:61-118); this engine ingests
from a file/Kafka landing zone (SURVEY.md §3.1). The bridge closes the
push gap without a gRPC stack: it listens on TCP, reads
varint-delimited ``Observation`` frames (protobuf's standard
``writeDelimitedTo`` framing), drops frames that don't decode
(skip-and-continue — the reference loop's per-message tolerance), and
lands parquet files with a ``value binary`` column ATOMICALLY into the
streaming source directory — exactly the shape the q267 wire pipeline
reads (``readStream.schema("value binary").parquet(...)`` ->
``parse_proto_observations``), and the bridge's stream reader decodes
it on executors each trigger. This is NOT the HTTP/gRPC receivers'
shape: they land decoded, typed observation rows
(``receiver.read_received_observations``). The bridge keeps binary
landing because ``validate=False`` lands frames undecoded by contract,
so only the stream can decode (and drop) them.

What stays out of scope: gRPC/HTTP-2 framing itself (no h2 stack in
this environment, and the Spark side gains nothing from it). An agent
adapter replaces its gRPC channel with this socket framing — same
message bytes, simpler transport. The bridge is driver-external glue:
it can run on any landing host; Spark only ever sees files.

Durability contract: a file becomes visible to the stream only via
``os.replace`` of a fully-written temp file (the file source must
never read a torn parquet); frames buffered in memory at crash time
are lost, which matches the reference's in-flight-gRPC-stream loss
window. Size the flush knobs accordingly.
"""

from __future__ import annotations

import os
import socket
import socketserver
import tempfile
import threading
import time
import uuid
from typing import Any

from kubenetmon_spark.sources.proto import decode_observation


def _read_varint_stream(read) -> int | None:
    """Read one base-128 varint from a blocking byte reader; None on
    clean EOF at a frame boundary; ValueError on overlong/torn varint."""
    shift = 0
    val = 0
    for i in range(10):
        b = read(1)
        if not b:
            if i == 0:
                return None
            raise ValueError("EOF inside varint")
        val |= (b[0] & 0x7F) << shift
        if not (b[0] & 0x80):
            return val
        shift += 7
    raise ValueError("varint longer than 10 bytes")


def write_delimited(sock: socket.socket, frames: list[bytes]) -> None:
    """Client-side framing: varint length + message bytes per frame
    (the ``writeDelimitedTo`` convention)."""
    out = bytearray()
    for f in frames:
        v = len(f)
        while True:
            bits = v & 0x7F
            v >>= 7
            out.append(bits | (0x80 if v else 0))
            if not v:
                break
        out += f
    sock.sendall(bytes(out))


def send_frames(host: str, port: int, frames: list[bytes]) -> None:
    with socket.create_connection((host, port)) as s:
        write_delimited(s, frames)


class IngestBridge:
    """Threaded TCP listener + buffered atomic parquet lander.

    Stats (``bridge.stats``) mirror the reference server's counters:
    ``received`` / ``dropped`` (undecodable) / ``landed`` (rows in
    visible files) / ``files``. Feed them to
    ``observability.prometheus_render`` for the scrape surface.
    """

    MAX_FRAME = 1 << 20  # 1 MiB: an Observation is ~100 bytes; anything
    # near this is hostile or torn framing — drop the connection.

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_frames: int = 10_000,
        flush_interval_s: float = 1.0,
        validate: bool = True,
    ):
        self.landing_dir = landing_dir
        self._host, self._port = host, port
        self.flush_frames = flush_frames
        self.flush_interval_s = flush_interval_s
        self.validate = validate
        self._buf: list[bytes] = []
        self._lock = threading.Lock()
        self._seq = 0
        self.stats: dict[str, int] = {
            "received": 0,
            "dropped": 0,
            "landed": 0,
            "files": 0,
        }
        self._server: socketserver.ThreadingTCPServer | None = None
        self._threads: list[threading.Thread] = []
        self._stop = threading.Event()

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> tuple[str, int]:
        os.makedirs(self.landing_dir, exist_ok=True)
        bridge = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):  # one thread per agent connection
                r = self.request.makefile("rb")
                try:
                    while True:
                        try:
                            n = _read_varint_stream(r.read)
                        except ValueError:
                            bridge._bump("dropped")
                            return  # torn framing: drop the connection
                        if n is None:
                            return  # clean EOF
                        if n > bridge.MAX_FRAME:
                            bridge._bump("dropped")
                            return
                        frame = r.read(n)
                        if len(frame) != n:
                            bridge._bump("dropped")
                            return  # EOF mid-frame: partial frame discarded
                        bridge._accept(frame)
                finally:
                    r.close()

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((self._host, self._port), Handler)
        self._host, self._port = self._server.server_address[:2]
        t = threading.Thread(target=self._server.serve_forever, daemon=True)
        t.start()
        f = threading.Thread(target=self._flush_loop, daemon=True)
        f.start()
        self._threads = [t, f]
        return self._host, self._port

    def stop(self, flush: bool = True) -> None:
        self._stop.set()
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
        for t in self._threads:
            t.join(timeout=10)
        if flush:
            self.flush()

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    # -- frame path --------------------------------------------------------
    def _bump(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.stats[key] += n

    def _accept(self, frame: bytes) -> None:
        self._bump("received")
        if self.validate:
            try:
                row = decode_observation(frame)
                if not row.get("node_name"):
                    raise ValueError("missing node_name")
            except (ValueError, UnicodeDecodeError):
                self._bump("dropped")
                return
        full = False
        with self._lock:
            self._buf.append(frame)
            full = len(self._buf) >= self.flush_frames
        if full:
            self.flush()

    def _flush_loop(self) -> None:
        while not self._stop.wait(self.flush_interval_s):
            self.flush()

    def flush(self) -> int:
        """Land buffered frames as ONE parquet file, visible atomically.
        Returns rows landed. Safe to call from any thread."""
        with self._lock:
            frames, self._buf = self._buf, []
            if not frames:
                return 0
            self._seq += 1
            seq = self._seq
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({"value": pa.array(frames, type=pa.binary())})
        fd, tmp = tempfile.mkstemp(dir=self.landing_dir, prefix=".inflight-")
        os.close(fd)
        try:
            pq.write_table(table, tmp)
            final = os.path.join(
                self.landing_dir,
                f"obs-{int(time.time() * 1000)}-{seq:06d}-{uuid.uuid4().hex[:8]}.parquet",
            )
            os.replace(tmp, final)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        self._bump("landed", len(frames))
        self._bump("files")
        return len(frames)

    # -- observability -----------------------------------------------------
    def counter_samples(self) -> list[tuple]:
        """Bridge counters in ``observability.prometheus_render`` shape,
        on the reference server's metric names (cmd/server/server.go:
        17-32): received->labeled is the labeler's job downstream, so
        the bridge reports its own accept/drop split."""
        s = dict(self.stats)
        return [
            (
                "kubenetmon_server_processed_observations_total",
                {"type": "enqueued"},
                s["landed"],
                "Number of flows processed by kubenetmon server since start",
                "counter",
            ),
            (
                "kubenetmon_server_processed_observations_total",
                {"type": "ignored"},
                s["dropped"],
                "Number of flows processed by kubenetmon server since start",
                "counter",
            ),
            (
                "kubenetmon_worker_batches_total",
                {"type": "landed"},
                s["files"],
                "Total number of batches inserted by kubenetmon workers",
                "counter",
            ),
        ]


def read_bridge_stream(spark, landing_dir: str, max_files_per_trigger: int | None = None):
    """The Spark side of the bridge: a streaming DataFrame of decoded
    observation rows over the landing zone — compose with
    ``streaming.start_flow_stream`` exactly like ``read_observations``.
    Ignores the bridge's in-flight temp files by reading only the
    atomically-renamed ``obs-*.parquet``."""
    from kubenetmon_spark.sources.proto import parse_proto_observations

    reader = spark.readStream.schema("value binary")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    wire = reader.option("pathGlobFilter", "obs-*.parquet").parquet(landing_dir)
    return parse_proto_observations(wire)
