#!/usr/bin/env python
"""Per-batch cadence of the incremental dedup streams — evidence for
the O(batch + index-join) refresh claim (q279/q285's streaming forms).

Usage: python tools/dedup_stream_scale.py [SF_DIR] [N_BATCHES] [--cosine]

Splits SF_DIR/documents.parquet (or embeddings.parquet with --cosine)
into N ordered batch files (mtimes pinned — the file source orders by
modification time), streams them through start_minhash_dedup_stream /
start_cosine_dedup_stream one file per trigger, and prints per-batch
trigger durations from the query progress log. A flat-ish per-batch
cost as the survivor index grows is the pass condition; a cost
proportional to total history would mean the index join is rescanning
the corpus.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--cosine"]
    cosine = "--cosine" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    n_batches = int(args[1]) if len(args) > 1 else 4

    from kubenetmon_spark.session import get_spark
    from kubenetmon_spark.streaming.curation import (
        start_cosine_dedup_stream,
        start_minhash_dedup_stream,
    )
    from kubenetmon_spark.streaming.state import read_batch_state

    spark = get_spark("dedup_stream_scale")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="dedup_stream_")
    src, out, idx, ckpt = (os.path.join(work, d) for d in ("src", "out", "idx", "ckpt"))
    if cosine:
        table, id_col, schema = "embeddings", "vec_id", (
            "vec_id long, embedding array<double>"
        )
        rows = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(
            "vec_id", "embedding"
        )
    else:
        table, id_col, schema = "documents", "doc_id", "doc_id long, text string"
        rows = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(
            "doc_id", "text"
        )
    n_docs = rows.count()
    # one file per batch, id-ranged so batch order == id order
    rows.repartitionByRange(n_batches, id_col).write.mode("overwrite").parquet(src)
    files = sorted(
        (p for p in Path(src).glob("part-*.parquet")),
        key=lambda p: p.name,
    )
    base = time.time() - 60 * (len(files) + 1)
    for i, p in enumerate(files):
        os.utime(p, (base + 60 * i, base + 60 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    t0 = time.perf_counter()
    if cosine:
        q = start_cosine_dedup_stream(
            stream, out, idx, ckpt, trigger={"availableNow": True}
        )
    else:
        q = start_minhash_dedup_stream(
            stream, out, idx, ckpt, trigger={"availableNow": True}
        )
    q.awaitTermination(1800)
    wall = time.perf_counter() - t0

    per_batch = [
        (p["batchId"], p["durationMs"].get("triggerExecution"))
        for p in (q.recentProgress or [])
        if p.get("numInputRows", 0) > 0 or p["durationMs"].get("triggerExecution", 0) > 0
    ]
    survivors = spark.read.parquet(out).count()
    # manifest-aware: a bare read of the store would also count a
    # crashed fold's orphan generation dir
    index_rows = read_batch_state(
        spark, f"{idx}/bands" if cosine else f"{idx}/docs"
    ).count()
    print(f"{table}={n_docs} batches={len(files)} survivors={survivors} "
          f"index_rows={index_rows} wall={wall:.1f}s")
    for bid, ms in per_batch:
        print(f"  batch {bid}: {ms/1000:.1f}s" if ms else f"  batch {bid}: ?")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
