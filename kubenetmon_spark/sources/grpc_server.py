"""gRPC ingest receiver: the reference's exact transport, as a thin
shell over the tested landing machinery.

The reference server exposes ``grpc.FlowHandler/Submit`` — a
client-streaming RPC of ``Observation`` messages answered with an
``ObservationSummary{observation_count}`` once the stream ends
(reference pkg/grpc/flow_handler.proto:8-20,
cmd/server/server.go:61-118). This module mirrors that surface so a
stock kubenetmon-agent can connect UNMODIFIED where ``grpcio`` is
installed:

- **Handler logic is transport-free and fully tested**:
  :class:`FlowHandlerServicer`.``submit(message_iter)`` consumes raw
  ``Observation`` bytes, decodes each once at the door
  (``decode_observation`` — skip-and-continue accounting like the
  reference server's per-observation error handling,
  server.go:100-113), lands the decoded rows through the SAME atomic
  typed parquet writer the HTTP receiver uses
  (:class:`~kubenetmon_spark.sources.receiver.ObservationReceiver`),
  and returns the encoded ``ObservationSummary``. Everything a unit
  test needs runs without grpcio.
- **The grpcio shell is import-gated**: :func:`serve` registers the
  servicer with a *generic* RPC handler at bytes level (request/
  response (de)serializers are identity) — no generated stubs needed,
  and the wire messages are exactly the reference proto because the
  hand-rolled codec in ``sources/proto.py`` is wire-compatible
  (property-tested against the spec there). Where grpcio is absent
  (this build sandbox), :func:`serve` raises ImportError with the
  supported-transport pointer; the HTTP receiver (varint-framed
  batches) and TCP bridge remain the tested transports — see README
  "Ingest boundary".

Scale posture: identical to the HTTP receiver — this is the EDGE, one
instance per ingest zone; batching is client-side (the agent's
batchSize/batchSendTimeout); each message is decoded once, here, and
the stream reads the landed typed columns
(``receiver.read_received_observations``).
"""

from __future__ import annotations

from typing import Iterable, Iterator

from kubenetmon_spark.sources.proto import _key, _varint, decode_observation
from kubenetmon_spark.sources.receiver import ObservationReceiver

_VARINT_WT = 0

SERVICE_NAME = "grpc.FlowHandler"  # reference flow_handler.proto:5-8
METHOD_NAME = "Submit"


def encode_observation_summary(observation_count: int) -> bytes:
    """``ObservationSummary{observation_count: uint32 = 1}`` wire bytes
    (reference flow_handler.proto:17-20). Proto3 omits zero-valued
    scalar fields."""
    if observation_count < 0 or observation_count > 0xFFFFFFFF:
        raise ValueError(f"observation_count out of uint32: {observation_count}")
    if observation_count == 0:
        return b""
    return _key(1, _VARINT_WT) + _varint(observation_count)


def decode_observation_summary(buf: bytes) -> int:
    """Inverse of :func:`encode_observation_summary` (tests + clients)."""
    from kubenetmon_spark.sources.proto import _fields

    count = 0
    for fnum, wt, val in _fields(buf):
        if fnum == 1 and wt == _VARINT_WT:
            count = int(val)
    return count


class FlowHandlerServicer:
    """Transport-free ``Submit`` handler over a landing directory.

    Reuses :class:`ObservationReceiver` purely for its atomic typed
    parquet landing (``_land``) and stats — the HTTP server half is never
    started. One ``submit`` call = one client stream = one landed file
    PER ``batch_size`` flush (an unbounded agent stream must not buffer
    unboundedly, so a 25k-message stream at the default 10k lands 3
    files). This also means a stream that errors mid-way has already
    landed its completed batches — at-least-once landing within a
    stream, unlike the HTTP receiver's all-or-nothing single-request
    body; the downstream flow table is idempotent per batch marker, and
    the reference server likewise inserts as the stream flows
    (server.go:100-118), not transactionally at stream end.
    """

    def __init__(self, landing_dir: str, batch_size: int = 10_000) -> None:
        self._rx = ObservationReceiver(landing_dir)
        self.batch_size = batch_size

    @property
    def stats(self) -> dict:
        return self._rx.stats

    def submit(self, message_iter: Iterable[bytes]) -> bytes:
        """Consume one client stream of raw Observation bytes; land
        accepted messages (flushing every ``batch_size`` so an
        unbounded agent stream never buffers unboundedly); return the
        encoded ObservationSummary.

        The summary counts every message RECEIVED on the stream — the
        reference server increments its counter before any processing
        (server.go:63-77), and this matches it. Where we are
        deliberately MORE lenient: a proto-undecodable message aborts
        the reference's whole stream, while here it is counted,
        recorded in ``stats["rejected"]``, skipped for landing, and the
        stream stays alive. On any stream the reference would actually
        answer (all messages well-formed) the two counts are therefore
        identical; on a malformed stream the reference returns an RPC
        error and no summary at all, so no count can diverge."""
        received = 0
        batch: list[bytes] = []
        rows: list[dict] = []
        for msg in message_iter:
            received += 1
            try:
                row = decode_observation(msg)
            except (ValueError, UnicodeDecodeError):
                with self._rx._lock:
                    self._rx.stats["rejected"] += 1
                continue
            batch.append(msg)
            rows.append(row)
            if len(batch) >= self.batch_size:
                self._rx._land(batch, rows)
                batch, rows = [], []
        if batch:
            self._rx._land(batch, rows)
        return encode_observation_summary(received)


def serve(
    landing_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    max_workers: int = 8,
):
    """Start a grpc.FlowHandler server (requires grpcio). Returns
    ``(server, bound_port, servicer)``; stop with ``server.stop(...)``.

    Registered as a *generic* handler with identity (de)serializers, so
    no generated stubs are needed — the agent's serialized Observation
    bytes arrive verbatim and the summary returns as wire bytes.
    """
    try:
        import grpc
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "grpcio is not installed; the supported wire transports are "
            "the HTTP receiver (sources/receiver.py, varint-framed "
            "protobuf batches, landed as typed observation rows) and the "
            "TCP bridge (sources/bridge.py, landed as binary frames). "
            "Install grpcio to serve the reference's native "
            "grpc.FlowHandler/Submit."
        ) from exc

    from concurrent import futures

    servicer = FlowHandlerServicer(landing_dir)

    def submit_rpc(request_iterator: Iterator[bytes], context) -> bytes:
        return servicer.submit(request_iterator)

    handler = grpc.method_handlers_generic_handler(
        SERVICE_NAME,
        {
            METHOD_NAME: grpc.stream_unary_rpc_method_handler(
                submit_rpc,
                request_deserializer=None,  # raw bytes in
                response_serializer=None,  # raw bytes out
            )
        },
    )
    server = grpc.server(futures.ThreadPoolExecutor(max_workers=max_workers))
    server.add_generic_rpc_handlers((handler,))
    bound = server.add_insecure_port(f"{host}:{port}")
    server.start()
    return server, bound, servicer
