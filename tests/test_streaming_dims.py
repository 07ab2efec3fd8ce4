"""Streaming SCD2 maintenance: micro-batched informer snapshots fold
into the same table a whole-history rebuild produces, across restarts."""

from __future__ import annotations

import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.scd import scd2_from_snapshots
from kubenetmon_spark.streaming.dims import read_scd2, start_scd2_stream

# (key, day, attr) — includes a change-back (k0 a->b->a), a null
# transition (k1 a->None->a), and a key appearing mid-stream (k2)
SNAPS = [
    ("k0", 1, "a"), ("k1", 1, "a"),
    ("k0", 2, "a"), ("k1", 2, None),
    ("k0", 3, "b"), ("k1", 3, None),
    ("k0", 4, "b"), ("k1", 4, "a"), ("k2", 4, "x"),
    ("k0", 5, "a"), ("k2", 5, "x"),
    ("k0", 6, "a"), ("k2", 6, "y"),
]

SCHEMA = "k string, snapshot_ts timestamp, app string"


def _rows(sub):
    return [(k, datetime(2024, 1, d), a) for k, d, a in sub]


def _write_batch(spark, path, sub, mtime):
    # one file per micro-batch; the file source orders by MODIFICATION
    # TIME, so pin mtimes in event-time order or batches interleave
    spark.createDataFrame(_rows(sub), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.getmtime(p) > mtime:
                os.utime(p, (mtime, mtime))


def _run(spark, src, scd2_path, ckpt):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_scd2_stream(
        stream, scd2_path, ckpt, ["k"], ["app"],
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)


def _table(df):
    key = lambda t: (t[0], t[1] is not None, t[1] or "", t[2])  # noqa: E731
    return sorted(
        ((r.k, r.app, r.valid_from, r.valid_to) for r in df.collect()), key=key
    )


def test_streaming_scd2_equals_rebuild_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    scd2_path = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")

    base = time.time()
    by_day = lambda lo, hi: [t for t in SNAPS if lo <= t[1] <= hi]  # noqa: E731
    _write_batch(spark, src, by_day(1, 2), base - 300)
    _write_batch(spark, src, by_day(3, 4), base - 200)
    _run(spark, src, scd2_path, ckpt)

    # mid-history checkpoint must already equal the rebuild over days 1-4
    assert _table(read_scd2(spark, scd2_path)) == _table(
        scd2_from_snapshots(
            spark.createDataFrame(_rows(by_day(1, 4)), SCHEMA), ["k"], ["app"]
        )
    )

    # restart with the SAME checkpoint: only the new file is processed
    _write_batch(spark, src, by_day(5, 6), base - 100)
    _run(spark, src, scd2_path, ckpt)

    assert _table(read_scd2(spark, scd2_path)) == _table(
        scd2_from_snapshots(
            spark.createDataFrame(_rows(SNAPS), SCHEMA), ["k"], ["app"]
        )
    )
    # closed history is append-only partition dirs; at most one open dir
    # is ever read (the newest) — replay-safe bookkeeping, not a merge
    open_bids = {
        r._bid
        for r in spark.read.option("basePath", f"{scd2_path}/open")
        .parquet(f"{scd2_path}/open")
        .select("_bid")
        .distinct()
        .collect()
    }
    assert len(open_bids) >= 2  # one per batch, newest wins on read


def test_streaming_scd2_asof_matches_snapshot(spark, tmp_path):
    """as_of_dimension over the STREAMED table reproduces a snapshot."""
    from kubenetmon_spark.operators.scd import as_of_dimension

    src = str(tmp_path / "src")
    scd2_path = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    _write_batch(spark, src, [t for t in SNAPS if t[1] <= 3], base - 300)
    _write_batch(spark, src, [t for t in SNAPS if t[1] > 3], base - 200)
    _run(spark, src, scd2_path, ckpt)

    at4 = {
        r.k: r.app
        for r in as_of_dimension(
            read_scd2(spark, scd2_path), datetime(2024, 1, 4)
        ).collect()
    }
    assert at4 == {"k0": "b", "k1": "a", "k2": "x"}


def test_scd2_read_between_closed_and_open_writes_sees_last_batch(
    spark, tmp_path, monkeypatch
):
    """Batch 2 crashes after writing its closed intervals and before its
    open set: a read then must equal batch 1's answer (k0's 'b'
    interval is not both closed and open), and a restart completes the
    history."""
    from pyspark.sql.readwriter import DataFrameWriter

    src = str(tmp_path / "src")
    scd2_path = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    by_day = lambda lo, hi: [t for t in SNAPS if lo <= t[1] <= hi]  # noqa: E731
    _write_batch(spark, src, by_day(1, 2), base - 300)
    _write_batch(spark, src, by_day(3, 4), base - 200)
    _write_batch(spark, src, by_day(5, 6), base - 100)

    real_parquet = DataFrameWriter.parquet
    fired: list[str] = []

    def parquet(self, path, *args, **kwargs):
        if not fired and path.endswith("open/_bid=2"):
            fired.append(path)
            raise OSError("injected crash before the open-set write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Exception, match="injected crash"):
        _run(spark, src, scd2_path, ckpt)
    assert fired and os.path.isdir(f"{scd2_path}/closed/_bid=2")

    def rebuild(lo, hi):
        return _table(
            scd2_from_snapshots(
                spark.createDataFrame(_rows(by_day(lo, hi)), SCHEMA), ["k"], ["app"]
            )
        )

    assert _table(read_scd2(spark, scd2_path)) == rebuild(1, 4)
    _run(spark, src, scd2_path, ckpt)  # restart: batch 2 is retried
    assert _table(read_scd2(spark, scd2_path)) == rebuild(1, 6)
