"""Seeded input generators. Every input a workload feeds the engine is
derived here from the seed alone, with numpy, and handed over as
pyarrow tables or wire bytes: the engine never sees the seed.

Flow inputs carry their connection class by construction (column
``cls``), so the expected per-(class, direction) sums follow from the
inputs without running the labeler (see checks.flow_expectation).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

CLUSTER_REGION = "us-west-2"
N_PODS = 2000
N_NODES = 20
ZONES = ("us-west-2a", "us-west-2b", "us-west-2c")

# Prefix tree: each /12 block holds 8 /16 children in its lower half,
# each /16 holds 8 /20 children, each /20 holds 8 /24 leaves. The upper
# half of every non-leaf block is covered by no child, so an address
# drawn there matches that block by longest prefix — the expected label
# is known without an LPM. 74 blocks x 585 = 43,290 nested prefixes.
N_TOP_BLOCKS = 74
_LEVELS = (12, 16, 20, 24)
_FANOUT = 8

OBS_FIELDS = [
    ("node_name", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("proto", pa.int32()),
    ("orig_src_ip", pa.string()),
    ("orig_src_v6", pa.string()),
    ("orig_src_port", pa.int32()),
    ("orig_dst_ip", pa.string()),
    ("orig_dst_v6", pa.string()),
    ("orig_dst_port", pa.int32()),
    ("orig_packets", pa.int64()),
    ("orig_bytes", pa.int64()),
    ("reply_src_ip", pa.string()),
    ("reply_src_v6", pa.string()),
    ("reply_src_port", pa.int32()),
    ("reply_dst_ip", pa.string()),
    ("reply_dst_v6", pa.string()),
    ("reply_dst_port", pa.int32()),
    ("reply_packets", pa.int64()),
    ("reply_bytes", pa.int64()),
]


def _ip_str(nums: np.ndarray) -> np.ndarray:
    nums = nums.astype(np.int64)
    return np.array(
        [
            f"{(n >> 24) & 255}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"
            for n in nums.tolist()
        ],
        dtype=object,
    )


class Dims:
    """Pods, nodes and nested cloud prefixes, plus the lookups the
    observation generator needs to know each destination's class."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        pod_idx = np.arange(N_PODS)
        self.pod_ip_num = (10 << 24) + (1 << 16) + pod_idx
        self.pod_ip = _ip_str(self.pod_ip_num)
        self.pod_node = pod_idx % N_NODES
        self.pods = pa.table(
            {
                "pod_ip": self.pod_ip,
                "name": [f"pod-{i}" for i in pod_idx],
                "namespace": [f"ns-{i % 12}" for i in pod_idx],
                "node_name": [f"node-{n}" for n in self.pod_node],
                "label_app": [f"app-{i % 40}" for i in pod_idx],
                "label_k8s_app": pa.nulls(N_PODS, pa.string()),
                "label_control_plane_id": pa.nulls(N_PODS, pa.string()),
            }
        )
        self.nodes = pa.table(
            {
                "name": [f"node-{j}" for j in range(N_NODES)],
                "internal_ip": [f"192.168.1.{j + 1}" for j in range(N_NODES)],
                "zone": [ZONES[j % 3] for j in range(N_NODES)],
            }
        )
        # prefix tree, breadth first
        starts, lens = [], []
        tops = (20 << 24) + np.arange(N_TOP_BLOCKS, dtype=np.int64) * (1 << 20)
        level = tops
        for plen in _LEVELS:
            starts.append(level)
            lens.append(np.full(len(level), plen))
            if plen == _LEVELS[-1]:
                break
            child = 1 << (32 - plen - 4)
            level = (level[:, None] + np.arange(_FANOUT) * child).ravel()
        start = np.concatenate(starts)
        plen = np.concatenate(lens)
        n = len(start)
        size = np.left_shift(np.int64(1), (32 - plen).astype(np.int64))
        aws = rng.random(n) < 0.85
        region = np.where(
            aws,
            rng.choice(
                np.array([CLUSTER_REGION, "us-east-1", "eu-west-1", "global"], dtype=object),
                size=n,
                p=[0.5, 0.3, 0.15, 0.05],
            ),
            "us-central1",
        )
        service = np.where(
            aws,
            rng.choice(np.array(["ec2", "s3", "dynamodb", "elb"], dtype=object), size=n),
            "gce",
        )
        self.prefixes = pa.table(
            {
                "prefix": [f"{s}/{p}" for s, p in zip(_ip_str(start), plen.tolist())],
                "net_start": start,
                "net_end": start + size - 1,
                "prefix_len": plen.astype(np.int32),
                "cloud": np.where(aws, "aws", "gcp"),
                "service": service,
                "region": region,
            }
        )
        # an address in the child-free upper half (leaves: anywhere)
        self.pfx_lo = np.where(plen < _LEVELS[-1], start + size // 2, start)
        self.pfx_span = np.where(plen < _LEVELS[-1], size // 2, size)
        self.pfx_cls = np.where(
            ~aws,
            "PUBLIC_INTERNET",
            np.where(
                (region == CLUSTER_REGION) | (region == "global"),
                "INTRA_REGION",
                "INTER_REGION",
            ),
        )


# Destination kind by popularity rank, repeating: 0 pod, 1 private
# (unlisted VPC address), 2 cloud prefix, 3 internet, in shares 30/10/45/15.
# Fixed by rank, so every seed sends the same share of its observations
# through each labeler path; a random draw let the few hottest keys swing
# the cloud share between 30 and 60 percent.
_KIND_BY_RANK = np.array([2, 0, 2, 3, 2, 0, 1, 2, 0, 2, 2, 0, 3, 2, 0, 1, 2, 0, 2, 3])

# Connection pool size and Zipf exponent of key popularity; share of
# observations that are UDP, which the labeler rejects.
N_CONNS = 20_000
ZIPF_S = 1.1
UDP_SHARE = 0.02


class Connections:
    """A seeded pool of connection keys drawn Zipf-wise, so keys recur
    within a minute and the stream's pre-sum folds rows."""

    def __init__(self, dims: Dims, seed: int):
        rng = np.random.default_rng([seed, 2])
        n = N_CONNS
        src = rng.integers(0, N_PODS, n)
        kind = np.resize(_KIND_BY_RANK, n)
        dst_num = np.zeros(n, dtype=np.int64)
        cls = np.empty(n, dtype=object)
        # pod: a pod on another node (offset keeps node index different)
        m = kind == 0
        off = rng.integers(1, N_NODES, m.sum())
        dst_pod = (src[m] + off + N_NODES * rng.integers(0, N_PODS // N_NODES, m.sum())) % N_PODS
        dst_num[m] = dims.pod_ip_num[dst_pod]
        cls[m] = "INTRA_VPC"
        self.remote_pod = np.full(n, -1)
        self.remote_pod[m] = dst_pod
        self.prefix = np.full(n, -1)
        m = kind == 1
        dst_num[m] = (10 << 24) + (200 << 16) + rng.integers(0, 1 << 16, m.sum())
        cls[m] = "INTRA_VPC"
        m = kind == 2
        p = rng.integers(0, len(dims.pfx_lo), m.sum())
        dst_num[m] = dims.pfx_lo[p] + (rng.random(m.sum()) * dims.pfx_span[p]).astype(np.int64)
        cls[m] = dims.pfx_cls[p]
        self.prefix[m] = p
        m = kind == 3
        dst_num[m] = (99 << 24) + rng.integers(0, 1 << 24, m.sum())
        cls[m] = "PUBLIC_INTERNET"
        self.n = n
        self.src = src
        self.node = np.array([f"node-{k}" for k in dims.pod_node[src]], dtype=object)
        self.src_ip = dims.pod_ip[src]
        self.src_port = rng.integers(30000, 60000, n).astype(np.int32)
        self.dst_ip = _ip_str(dst_num)
        self.dst_port = rng.choice(np.array([443, 80, 5432, 6379, 9000], dtype=np.int32), n)
        self.cls = cls
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()

    def sample(self, rng: np.random.Generator, k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(k)), self.n - 1)


def observations(conns: Connections, rng: np.random.Generator, ts_us: np.ndarray) -> pa.Table:
    """One observation per timestamp. A ``UDP_SHARE`` of them are UDP,
    which the labeler rejects (class ``REJECT`` here)."""
    k = len(ts_us)
    c = conns.sample(rng, k)
    udp = rng.random(k) < UDP_SHARE
    proto = np.where(udp, 17, 6).astype(np.int32)
    ob = rng.integers(60, 20_000, k)
    op = rng.integers(1, 40, k)
    rb = rng.integers(60, 50_000, k)
    rp = rng.integers(1, 40, k)
    none = pa.nulls(k, pa.string())
    src_ip, dst_ip = conns.src_ip[c], conns.dst_ip[c]
    sport, dport = conns.src_port[c], conns.dst_port[c]
    cols = {
        "node_name": conns.node[c],
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "proto": proto,
        "orig_src_ip": src_ip,
        "orig_src_v6": none,
        "orig_src_port": sport,
        "orig_dst_ip": dst_ip,
        "orig_dst_v6": none,
        "orig_dst_port": dport,
        "orig_packets": op,
        "orig_bytes": ob,
        "reply_src_ip": dst_ip,
        "reply_src_v6": none,
        "reply_src_port": dport,
        "reply_dst_ip": src_ip,
        "reply_dst_v6": none,
        "reply_dst_port": sport,
        "reply_packets": rp,
        "reply_bytes": rb,
    }
    t = pa.table({n: pa.array(cols[n], t) for n, t in OBS_FIELDS})
    return t.append_column("cls", pa.array(np.where(udp, "REJECT", conns.cls[c]), pa.string()))


def encode_dump(obs: pa.Table) -> list[bytes]:
    """Observation rows -> wire-format messages (epoch-second stamps)."""
    from kubenetmon_spark.sources.proto import encode_observation

    d = obs.drop_columns(["cls"]).to_pydict()
    ts = [int(t.timestamp()) for t in d.pop("ts")]
    names = list(d)
    out = []
    for i, row in enumerate(zip(*d.values())):
        r = {k: v for k, v in zip(names, row) if v is not None}
        r["ts_seconds"] = ts[i]
        out.append(encode_observation(r))
    return out


def flow_rows(dims: Dims, conns: Connections, rng: np.random.Generator, days: list[dt.date], n_keys: int) -> pa.Table:
    """Compacted flow-table rows: per day, ``n_keys`` distinct
    (connection, minute) keys, each as an ``out`` and an ``in`` row with
    the dimension values the labeler gives that connection."""
    keys = np.concatenate([rng.choice(conns.n * 1440, size=n_keys, replace=False) for _ in days])
    day_idx = np.repeat(np.arange(len(days)), n_keys)
    c, minute = keys // 1440, keys % 1440
    k = len(c)
    day0 = np.array([dt.datetime.combine(d, dt.time(), dt.timezone.utc).timestamp() for d in days])
    epoch_days = np.array([(d - dt.date(1970, 1, 1)).days for d in days], dtype=np.int32)
    pods, pfx = dims.pods, dims.prefixes

    def col(t: pa.Table, name: str) -> np.ndarray:
        return np.array(t[name].to_pylist(), dtype=object)

    zone = col(dims.nodes, "zone")
    node_name = col(dims.nodes, "name")
    pod_name, pod_ns, pod_app = col(pods, "name"), col(pods, "namespace"), col(pods, "label_app")
    src = conns.src[c]
    rp, px = conns.remote_pod[c], conns.prefix[c]
    is_pod, is_pfx = rp >= 0, px >= 0
    rps, pxs = np.maximum(rp, 0), np.maximum(px, 0)
    cls = conns.cls[c]
    private = cls == "INTRA_VPC"
    p_cloud, p_region, p_service = (col(pfx, n)[pxs] for n in ("cloud", "region", "service"))

    def const(v):
        return pa.array(np.full(k, v, dtype=object), pa.string())

    cols = {
        "date": pa.array(epoch_days[day_idx], pa.int32()).cast(pa.date32()),
        "intervalStartTime": pa.array(
            ((day0[day_idx] + minute * 60) * 1e6).astype(np.int64), pa.timestamp("us", tz="UTC")
        ),
        "intervalSeconds": np.full(k, 60, np.int32),
        "environment": const("production"),
        "cluster": const("bench"),
        "connectionFlags": pa.MapArray.from_arrays(
            np.zeros(k + 1, np.int32), pa.array([], pa.string()), pa.array([], pa.bool_())
        ),
        "localCloud": const("aws"),
        "localRegion": const(CLUSTER_REGION),
        "localCell": const(""),
        "localAvailabilityZone": zone[dims.pod_node[src]],
        "localNode": conns.node[c],
        "localInstanceID": const(""),
        "localNamespace": pod_ns[src],
        "localPod": pod_name[src],
        "localApp": pod_app[src],
        "localIPv4": conns.src_ip[c],
        "localPort": conns.src_port[c],
        "proto": const("TCP"),
        "connectionClass": cls,
        "remoteCloud": np.where(private, "aws", np.where(is_pfx, p_cloud, "")),
        "remoteRegion": np.where(
            private,
            CLUSTER_REGION,
            np.where(is_pfx, np.where(p_region == "global", CLUSTER_REGION, p_region), ""),
        ),
        "remoteCell": const(""),
        "remoteAvailabilityZone": np.where(is_pod, zone[dims.pod_node[rps]], ""),
        "remoteCluster": const("UNKNOWN"),
        "remoteNode": np.where(is_pod, node_name[dims.pod_node[rps]], ""),
        "remoteInstanceID": const(""),
        "remoteNamespace": np.where(is_pod, pod_ns[rps], ""),
        "remotePod": np.where(is_pod, pod_name[rps], ""),
        "remoteApp": np.where(is_pod, pod_app[rps], ""),
        "remoteIPv4": conns.dst_ip[c],
        "remotePort": conns.dst_port[c],
        "remoteService": np.where(is_pfx, p_service, ""),
    }
    base = pa.table(cols)
    sides = []
    for direction in ("out", "in"):
        t = base.add_column(6, "direction", const(direction))
        t = t.append_column("bytes", pa.array(rng.integers(100, 5_000_000, k), pa.int64()))
        sides.append(t.append_column("packets", pa.array(rng.integers(1, 4_000, k), pa.int64())))
    return pa.concat_tables(sides)


# --- curation corpus ---------------------------------------------------


CORPUS_DOCS = 6_000
CORPUS_GROUPS = 150
CORPUS_HOT = 60


def corpus(seed: int):
    """CORPUS_DOCS documents with CORPUS_GROUPS injected near-duplicate
    groups. Returns
    (table(doc_id, text), groups) where ``groups`` lists the doc ids of
    each injected group. A member is its group's base document with one
    word appended, so its word-3-gram Jaccard to the base is above 0.98
    and MinHash-LSH (8 hashes, 4 bands) misses the pair with odds below
    1e-5; unrelated documents draw 80-140 words uniformly from a
    5,000-word vocabulary and share almost no 3-grams. Group 0 is the
    hot group with CORPUS_HOT members; the others have 2 to 5."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(
        ["".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(3, 9))) for _ in range(5000)],
        dtype=object,
    )
    sizes = [CORPUS_HOT] + [int(s) for s in rng.integers(2, 6, CORPUS_GROUPS - 1)]
    n_base = CORPUS_DOCS - sum(s - 1 for s in sizes)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(80, 140))])
        for _ in range(n_base)
    ]
    groups: list[list[int]] = []
    bases = rng.choice(n_base, size=len(sizes), replace=False)
    for b, s in zip(bases, sizes):
        members = [int(b)]
        for _ in range(s - 1):
            members.append(len(texts))
            texts.append(texts[b] + " " + vocab[rng.integers(0, len(vocab))])
        groups.append(members)
    ids = np.arange(len(texts), dtype=np.int64)
    return pa.table({"doc_id": ids, "text": texts}), groups
