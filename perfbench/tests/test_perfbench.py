"""Tests of the benchmark's own arithmetic and checks; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen  # noqa: E402
from perfbench.trace import (  # noqa: E402
    beyond,
    commit_times,
    fold_event_log,
    freshness,
    layer_self_times,
    min_samples_for,
    parse_file_source_log,
    percentile,
    self_times,
)
from perfbench.workloads import tail_q  # noqa: E402

# --- percentile rule ----------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("q,n", [(95, 200), (90, 100), (75, 40), (50, 20)])
def test_min_samples_leave_ten_beyond(q, n):
    assert min_samples_for(q) == n
    assert beyond(list(range(n)), q) >= 10
    assert beyond(list(range(n - 1)), q) < 10


def test_tail_q_picks_highest_supported_percentile():
    assert tail_q(1000) == 99
    assert tail_q(200) == 95
    assert tail_q(199) == 90
    assert tail_q(64) == 75
    assert tail_q(39) == 50
    for n in (20, 39, 40, 64, 100, 199, 200, 1000):
        assert beyond(list(range(n)), tail_q(n)) >= 10


# --- freshness join -----------------------------------------------------


def _name(t: float) -> str:
    return f"obs-{int(t * 1e9)}-abcd1234.parquet"


def test_freshness_joins_file_to_dump_to_commit():
    sends = [(10.0, 10.1, 10.2), (11.0, 11.3, 11.4), (12.0, 12.0, 12.5)]
    files = {_name(10.15): 0, _name(11.35): 1, _name(12.2): 1}
    commits = {0: 13.0, 1: 15.0}
    fresh, unjoined = freshness(sends, files, commits)
    assert fresh == pytest.approx([3.0, 4.0, 3.0])
    assert unjoined == 0


def test_freshness_counts_uncommitted_and_ignores_strays():
    sends = [(10.0, 10.1, 10.2), (11.0, 11.3, 11.4)]
    # a file landed between posts belongs to no dump; batch 2 never committed
    files = {_name(10.15): 0, _name(10.9): 0, _name(11.35): 2}
    fresh, unjoined = freshness(sends, files, {0: 12.0})
    assert fresh == pytest.approx([2.0])
    assert unjoined == 1


def test_checkpoint_logs_parse(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entry = lambda name, b: json.dumps({"path": f"file:///x/{name}", "timestamp": 1, "batchId": b})  # noqa: E731
    (src / "0").write_text("v1\n" + entry("a.parquet", 0) + "\n")
    (src / "1.compact").write_text("v1\n" + entry("a.parquet", 0) + "\n" + entry("b.parquet", 1) + "\n")
    (src / "2").write_text("v1\n" + entry("c.parquet", 2) + "\n")
    (src / ".2.crc").write_text("junk")
    assert parse_file_source_log(src) == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 2}
    commits = tmp_path / "commits"
    commits.mkdir()
    for b, t in ((0, 1000.0), (1, 1005.5)):
        (commits / str(b)).write_text("v1\n{}")
        os.utime(commits / str(b), (t, t))
    (commits / ".1.crc").write_text("")
    assert commit_times(commits) == {0: 1000.0, 1: 1005.5}


# --- span self time -----------------------------------------------------


def _span(sid, parent, start, end, layer="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_union_of_clipped_children():
    spans = [
        _span(1, None, 0, 10, "a"),
        _span(2, 1, 1, 3, "b"),
        _span(3, 1, 2, 5, "b"),  # overlaps span 2: counted once
        _span(4, 1, 8, 12, "c"),  # runs past its parent: clipped at 10
        _span(5, 3, 2, 4, "d"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[3] == pytest.approx(3 - 2)
    assert st[2] == pytest.approx(2)
    assert st[4] == pytest.approx(4)
    assert layer_self_times(spans) == pytest.approx({"a": 4, "b": 3, "c": 4, "d": 2})


# --- event-log fold -----------------------------------------------------


def _task(stage, launch, finish, cpu_ns, gc, shuffle, spill):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
        },
    }


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 1_000_000,
        "Stage IDs": [0, 1],
        "Properties": {"spark.jobGroup.id": "q"},
    },
    _task(0, 1_000_100, 1_000_200, 5_000_000, 3, 100, 0),
    _task(0, 1_000_100, 1_000_500, 7_000_000, 0, 50, 8),
    _task(1, 1_000_600, 1_000_700, 1_000_000, 1, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_000},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 1_002_000,
        "Stage IDs": [2],
        "Properties": {"sql.streaming.queryId": "qid", "streaming.sql.batchId": "4"},
    },
    _task(2, 1_002_000, 1_002_100, 2_000_000, 0, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_500},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 2,
        "Submission Time": 1_003_000,
        "Stage IDs": [3],
        "Properties": {"spark.jobGroup.id": "elsewhere"},
    },
    _task(3, 1_003_000, 1_003_100, 9_000_000, 0, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_003_200},
]


def test_event_log_fold_per_phase():
    phases = {"q": [(999.5, 1001.5)], "stream": [(1001.5, 1003.0)]}
    out = fold_event_log(CANNED_LOG, phases, lambda qid, b: "stream" if (qid, b) == ("qid", 4) else None)
    q = out["q"]
    assert q["jobs"] == 1 and q["tasks"] == 3
    assert q["executor_cpu_ms"] == pytest.approx(13.0)
    assert q["gc_ms"] == 4 and q["shuffle_bytes"] == 150 and q["spill_bytes"] == 8
    # stage 0 durations 100 and 400 ms: max over median 400/250
    assert q["task_max_over_p50"] == pytest.approx(1.6)
    # 2.0 s of phase wall time, 1.0 s of it inside the job
    assert q["driver_gap_ms"] == pytest.approx(1000.0)
    s = out["stream"]
    assert s["jobs"] == 1 and s["tasks"] == 1
    assert s["executor_cpu_ms"] == pytest.approx(2.0)
    assert s["driver_gap_ms"] == pytest.approx(1000.0)


# --- generators ---------------------------------------------------------


def test_generators_are_seeded():
    a, b = gen.Dims(3), gen.Dims(3)
    assert a.prefixes.equals(b.prefixes)
    assert not a.prefixes.equals(gen.Dims(4).prefixes)
    ca, cb = gen.Connections(a, 3), gen.Connections(b, 3)
    oa = gen.observations(ca, np.random.default_rng(1), np.zeros(50, np.int64))
    ob = gen.observations(cb, np.random.default_rng(1), np.zeros(50, np.int64))
    assert oa.equals(ob)
    ta, ga = gen.corpus(3)
    tb, gb = gen.corpus(3)
    assert ta.equals(tb) and ga == gb


def test_cloud_destinations_match_their_prefix_by_longest_prefix():
    dims = gen.Dims(5)
    conns = gen.Connections(dims, 5)
    start = dims.prefixes["net_start"].to_numpy()
    end = dims.prefixes["net_end"].to_numpy()
    plen = dims.prefixes["prefix_len"].to_numpy()
    assert dims.prefixes.num_rows == gen.N_TOP_BLOCKS * 585
    idx = np.flatnonzero(conns.prefix >= 0)[:400]
    ips = np.array([sum(int(o) << s for o, s in zip(ip.split("."), (24, 16, 8, 0))) for ip in conns.dst_ip[idx]])
    cover = (start[None, :] <= ips[:, None]) & (ips[:, None] <= end[None, :])
    winner = np.where(cover, plen[None, :], -1).argmax(axis=1)
    assert (winner == conns.prefix[idx]).all()


# --- correctness checks, each with a perturbed output -------------------


def _obs():
    dims = gen.Dims(1)
    conns = gen.Connections(dims, 1)
    return gen.observations(conns, np.random.default_rng(2), np.zeros(20_000, np.int64))


def test_udp_share_is_rejected():
    cls = _obs()["cls"].to_numpy(zero_copy_only=False)
    assert abs((cls == "REJECT").mean() - gen.UDP_SHARE) < 0.005


def test_flow_expectation_orients_and_drops_udp():
    obs = _obs()
    exp = checks.flow_expectation(obs)
    tcp = obs.filter(pa.compute.not_equal(obs["cls"], "REJECT")).to_pandas()
    out = exp[exp.direction == "out"]
    assert out.bytes.sum() == tcp.orig_bytes.sum()
    assert exp[exp.direction == "in"].packets.sum() == tcp.reply_packets.sum()
    assert "REJECT" not in set(exp.connectionClass)


def test_flow_sums_check_catches_a_perturbed_sum():
    exp = checks.flow_expectation(_obs())
    assert checks.check_flow_sums(exp, exp.copy()) == []
    bad = exp.copy()
    bad.loc[0, "bytes"] += 1
    assert checks.check_flow_sums(exp, bad)


def _write_table(root: Path, rows: list[tuple]):
    for date, k, v in rows:
        part = root / f"date={date}"
        part.mkdir(parents=True, exist_ok=True)
        t = pa.table(
            {
                "k": [k],
                "connectionFlags": pa.array([[("f", True)]], pa.map_(pa.string(), pa.bool_())),
                "bytes": [v],
            }
        )
        pq.write_table(t, part / f"part-{len(list(part.iterdir()))}.parquet")


def test_compacted_check_catches_a_duplicate_key(tmp_path):
    con = duckdb.connect()
    good = tmp_path / "good"
    _write_table(good, [("2026-01-01", "a", 1), ("2026-01-01", "b", 2), ("2026-01-02", "a", 3)])
    assert checks.check_compacted(con, str(good), ["date", "k", "connectionFlags"]) == []
    bad = tmp_path / "bad"
    _write_table(bad, [("2026-01-01", "a", 1), ("2026-01-01", "a", 2)])
    assert checks.check_compacted(con, str(bad), ["date", "k", "connectionFlags"])


def test_retention_check_catches_a_wrong_drop():
    before = ["date=2026-01-01", "date=2026-01-20", "date=2026-01-30"]
    today = dt.date(2026, 1, 31)
    ok = checks.check_retention(before, ["date=2026-01-01"], before[1:], today, 15)
    assert ok == []
    assert checks.check_retention(before, [], before, today, 15)
    assert checks.check_retention(before, ["date=2026-01-01", "date=2026-01-30"], before[1:2], today, 15)
    # the right partitions reported dropped, but one left behind on disk
    assert checks.check_retention(before, ["date=2026-01-01"], before, today, 15)


def test_query_check_catches_perturbed_rows_and_columns():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
    assert checks.check_query("t", a, a.iloc[::-1].copy()) == []
    assert checks.check_query("t", a, pd.DataFrame({"k": ["x", "y"], "v": [1, 3]}))
    assert checks.check_query("t", a, pd.DataFrame({"k": ["x", "y"], "w": [1, 2]}))
    assert checks.check_query("t", a, a.iloc[:1])


def test_dashboard_oracles_cover_every_query_kind():
    from perfbench.workloads import QUERY_KINDS, RATES

    assert set(checks.dashboard_oracles("app-1", "2026-01-01", "2026-01-07", RATES)) == set(QUERY_KINDS)


def test_group_check_catches_a_split_group():
    clusters = pd.DataFrame({"node": [1, 2, 3, 7, 8], "cluster_rep": [1, 1, 1, 7, 7]})
    assert checks.check_groups([[1, 2, 3], [7, 8]], clusters) == []
    split = clusters.assign(cluster_rep=[1, 1, 3, 7, 7])
    assert checks.check_groups([[1, 2, 3], [7, 8]], split)
    assert checks.check_groups([[1, 2, 3], [7, 9]], clusters)


def test_minhash_oracle_and_pair_check():
    docs, groups = gen.corpus(9)
    assert len(docs) == gen.CORPUS_DOCS and len(groups) == gen.CORPUS_GROUPS
    assert max(map(len, groups)) == gen.CORPUS_HOT
    pairs = checks.minhash_oracle(docs)
    found = set(zip(pairs.id_1, pairs.id_2))
    for g in groups:
        for a in g:
            for b in g:
                if a < b:
                    assert (a, b) in found
    assert checks.check_pairs(pairs.copy(), pairs) == []
    assert checks.check_pairs(pairs.iloc[1:].copy(), pairs)


def test_kept_check_catches_an_extra_document():
    clusters = pd.DataFrame({"node": [1, 2, 3], "cluster_rep": [1, 1, 1]})
    assert checks.check_kept([0, 1, 4], 5, clusters) == []
    assert checks.check_kept([0, 1, 2, 4], 5, clusters)


# --- comparability ------------------------------------------------------


def _hdr(**kw):
    from perfbench.run import COMPARABLE_KEYS

    return {k: 1 for k in COMPARABLE_KEYS} | {"trace": 0, "head_sha": "a", "dirty": False, "tree_sha": "t"} | kw


def test_records_with_unlike_headers_are_not_compared():
    from perfbench.run import comparable

    h = _hdr()
    assert comparable(h, h | {"head_sha": "b"}) == []
    assert comparable(h, h | {"nproc": 8, "master": "local[8]"}) == ["nproc", "master"]
    assert comparable(h, h | {"workload": "dashboard"}) == ["workload"]
    assert comparable(h, h | {"seconds": 60}) == ["seconds"]
    assert comparable(h, h | {"trace": 1}) == ["trace"]


def test_tracing_overhead_needs_an_untraced_run_of_the_same_code():
    from perfbench.run import tracing_overhead

    base = {"header": _hdr(), "e2e": {"setup_s": 2.0, "latency_p50_s": 1.0}}
    traced = {"header": _hdr(trace=1), "e2e": {"setup_s": 2.5, "latency_p50_s": 1.25}}
    assert tracing_overhead(base, traced) == pytest.approx({"setup_s": 0.5, "latency_p50_s": 0.25})
    for key, other in (("head_sha", "b"), ("dirty", True), ("tree_sha", "c"), ("seed", 977), ("seconds", 60)):
        moved = {"header": traced["header"] | {key: other}, "e2e": traced["e2e"]}
        assert tracing_overhead(base, moved) == {"refused": [key]}
    assert tracing_overhead(traced, traced) == {"refused": ["trace"]}


def test_unmeasured_metrics_make_the_run_incorrect():
    from perfbench.run import result_line
    from perfbench.workloads import Result

    spec = {"end_to_end": [{"name": "setup_s", "unit": "s"}, {"name": "latency_p50_s", "unit": "s"}], "per_layer": []}
    res = Result()
    res.check([])
    res.e2e = {"setup_s": 3.0, "latency_p50_s": 1.0}
    line, missing = result_line(spec, res, 0)
    assert line["correct"] and missing == []
    assert line["metrics"]["latency_p50_s"] == {"value": 1.0, "unit": "s"}
    res.error("curation pass", RuntimeError("boom"))
    del res.e2e["latency_p50_s"]
    line, missing = result_line(spec, res, 0)
    assert not line["correct"] and missing == ["latency_p50_s"]
    assert (line["attempted"], line["failed"]) == (2, 1)
    assert list(line["metrics"]) == ["setup_s"]
