"""Incremental MinHash dedup: engine vs a sequential Python spec of the
whole pipeline (shingles -> md5 minhash signatures -> band keys ->
candidates -> exact verify -> survivor-index rules), batch and streamed."""

from __future__ import annotations

import hashlib
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.dedup import minhash_dedup_incremental

H, BANDS, N, T = 8, 4, 3, 3000


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _shingles(text: str) -> set[str]:
    toks = re.split(r"\s+", text.strip(" "))
    return {" ".join(toks[i : i + N]) for i in range(len(toks) - N + 1)}


def _band_keys(sh: set[str]) -> set[tuple[int, str]]:
    sig = [min(_md5(f"{h}:{s}") for s in sh) for h in range(H)]
    rpb = H // BANDS
    out = set()
    for b in range(BANDS):
        parts = sorted(f"{h}={sig[h]}" for h in range(b * rpb, (b + 1) * rpb))
        out.add((b, "|".join(parts)))
    return out


def _jac_bp(a: set[str], b: set[str]) -> int:
    i = len(a & b)
    return (i * 10000) // (len(a) + len(b) - i)


def _match(d1, d2) -> bool:
    """verified near-dup per the engine's rule: band collision AND
    exact jaccard >= threshold."""
    if not d1 or not d2:
        return False
    return bool(_band_keys(d1) & _band_keys(d2)) and _jac_bp(d1, d2) >= T


def _spec(batches: list[list[tuple[int, str]]]) -> list[int]:
    """sequential survivor-index spec: dropped iff verified match vs any
    kept index doc, or vs any smaller-id doc within the own batch."""
    kept: dict[int, set[str]] = {}
    for batch in batches:
        sh = {i: _shingles(t) for i, t in batch}
        ids = sorted(sh)
        dropped = {
            i
            for i in ids
            if any(_match(sh[i], ks) for ks in kept.values())
            or any(_match(sh[i], sh[j]) for j in ids if j < i)
        }
        kept.update({i: sh[i] for i in ids if i not in dropped})
    return sorted(kept)


BATCH1 = [
    (1, "the quick brown fox jumps over the lazy dog tonight again"),
    (2, "the quick brown fox jumps over the lazy dog tonight againx"),  # ~dup of 1
    (3, "completely different words about distributed query engines here"),
    (4, "the quick brown fox jumps over the lazy dog tonight again"),   # exact dup of 1
    (5, "tiny doc"),                                                     # < n tokens: no shingles
]
BATCH2 = [
    (6, "the quick brown fox jumps over the lazy dog tonight again"),   # dup of kept 1
    (7, "completely different words about distributed query engines here today"),  # ~dup of 3
    (8, "a genuinely novel document with its own vocabulary entirely"),
    (9, "a genuinely novel document with its own vocabulary entirelyx"),  # ~dup of 8 (same batch)
]
BATCH3 = [
    (10, "a genuinely novel document with its own vocabulary entirely"),  # dup of kept 8
    (11, "yet another brand new unique text never seen before anywhere"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_batch_incremental_matches_spec(spark):
    want12 = _spec([BATCH1, BATCH2])
    s1, b1, g1 = minhash_dedup_incremental(
        _df(spark, BATCH1), None, None, "doc_id", "text"
    )
    s2, _, _ = minhash_dedup_incremental(
        _df(spark, BATCH2), b1, g1, "doc_id", "text"
    )
    got = sorted(
        [r.doc_id for r in s1.collect()] + [r.doc_id for r in s2.collect()]
    )
    assert got == want12
    # sanity on the fixture: it exercises every rule
    assert 2 not in got and 4 not in got   # within-batch near+exact dup
    assert 6 not in got                     # cross-batch dup vs index
    assert 9 not in got                     # within-batch-2 near dup
    assert 5 in got                         # shingle-less doc survives


def test_streaming_minhash_dedup_matches_spec(spark, tmp_path):
    from kubenetmon_spark.streaming.curation import start_minhash_dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    base = time.time()

    def write(rows, mtime):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if os.path.getmtime(p) > mtime:
                    os.utime(p, (mtime, mtime))

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = start_minhash_dedup_stream(
            stream, out, idx, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination(300)

    write(BATCH1, base - 300)
    write(BATCH2, base - 200)
    run()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == _spec([BATCH1, BATCH2])

    # restart with the same checkpoint: only the new file is processed
    write(BATCH3, base - 100)
    run()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == _spec([BATCH1, BATCH2, BATCH3])
    assert 10 not in got and 11 in got


def test_index_deltas_are_survivors_only(spark):
    s1, b1, d1 = minhash_dedup_incremental(
        _df(spark, BATCH1), None, None, "doc_id", "text"
    )
    surv = {r.doc_id for r in s1.collect()}
    texts = dict(BATCH1)
    # shingle-less survivors (doc 5) can match nothing and are not indexed
    indexed = {i for i in surv if _shingles(texts[i])}
    assert surv == {1, 3, 5} and indexed == {1, 3}
    docs = d1.collect()
    assert sorted(r._id for r in docs) == sorted(indexed)  # one row each
    for r in docs:
        assert r.sz == len(r.sh) and set(r.sh) == _shingles(texts[r._id])
    bands = b1.collect()
    assert sorted(r._id for r in bands) == sorted(sorted(indexed) * BANDS)
    for i in indexed:
        got = {(r.band, r.band_key) for r in bands if r._id == i}
        assert got == _band_keys(_shingles(texts[i]))


def test_incremental_plans_have_no_shingle_rows(spark, monkeypatch):
    """Both the cold-start and the index-backed pass keep one row per
    document: no plan explodes the shingle array or aggregates
    signatures by document id."""
    plans = []

    def record(df):
        qe = df._jdf.queryExecution()
        plans.append(qe.executedPlan().toString() + qe.toRdd().toDebugString())

    b1, b2 = _df(spark, BATCH1), _df(spark, BATCH2)
    frame_cls = type(b1)
    checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        record(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    out1 = minhash_dedup_incremental(b1, None, None, "doc_id", "text")
    out2 = minhash_dedup_incremental(b2, out1[1], out1[2], "doc_id", "text")
    for df in out1 + out2:
        df.count()
        record(df)
    assert len(plans) >= 8  # the operators' own checkpoints + six outputs
    for plan in plans:
        assert not re.search(r"explode\(sh#\d+", plan), plan
        assert not re.search(r"Aggregate\(keys=\[_id#\d+", plan), plan


def test_stream_refuses_legacy_shingles_index(spark, tmp_path):
    from kubenetmon_spark.streaming.curation import start_minhash_dedup_stream

    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    _df(spark, BATCH1).write.parquet(src)
    spark.createDataFrame(
        [(1, 0, "k", 9)], "_id long, band int, band_key string, sz long"
    ).write.parquet(f"{idx}/bands/_bid=0")
    spark.createDataFrame(
        [(1, "the quick brown")], "_id long, shingle string"
    ).write.parquet(f"{idx}/shingles/_bid=0")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="MIGRATION.md item 13"):
        start_minhash_dedup_stream(
            stream, str(tmp_path / "out"), idx, str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )
    assert not spark.streams.active
    assert not (tmp_path / "ckpt").exists() and not (tmp_path / "out").exists()


def test_streaming_minhash_dedup_across_index_folds(spark, tmp_path):
    """fold_every=1 folds both index stores at every batch after the
    first; the fold of one store deletes files that the rest of the
    batch must no longer need."""
    from kubenetmon_spark.streaming.curation import start_minhash_dedup_stream

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    base = time.time()
    for k, rows in enumerate((BATCH1, BATCH2, BATCH3)):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        mtime = base - 300 + 100 * k
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if os.path.getmtime(p) > mtime:
                    os.utime(p, (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_minhash_dedup_stream(
        stream, out, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, fold_every=1,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == _spec([BATCH1, BATCH2, BATCH3])
    assert (tmp_path / "idx" / "docs" / "_state_manifest.json").exists()
