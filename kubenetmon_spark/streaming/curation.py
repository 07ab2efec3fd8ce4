"""Streaming corpus curation: incremental global dedup over a document
stream.

The batch operator (operators/curation.py::dedup_lines_incremental)
proves the invariant "sequential increments == one whole-corpus pass";
this module is its streaming harness: each micro-batch of documents is
deduplicated against the PERSISTED historical line index, emits its
reassembled survivors to the output table, and appends its new lines to
the index — so a crawl feed flows through `readStream` end to end and
the corpus-wide first-occurrence guarantee still holds across batches
AND restarts.

Retry idempotency (foreachBatch is AT-LEAST-ONCE — the checkpoint can
replay a batch whose writes partially landed): both writes are
batch-id-DETERMINISTIC, not appends. Survivors land in
``out_path/_bid=<batch_id>`` and new index lines in
``index_path/_bid=<batch_id>``, each with ``mode("overwrite")`` of that
one partition directory; the dedup itself reads the index EXCLUDING the
current batch's own partition. A replayed batch therefore recomputes
the identical survivor set (its own half-written state is invisible to
the anti-join) and overwrites the same two directories — effective
exactly-once without any cross-write ordering assumption. This is the
directory-deterministic variant of streaming/job.py's marker-file
pattern (job.py:168-171), chosen here because TWO stores must stay
mutually consistent, which a single post-hoc marker cannot guarantee.

Scale posture: the per-batch cost is the batch's line volume (anti-join
against the index hash-partitions on line text). The index state FOLDS
in-stream (state.write_batch_state, every ``fold_every`` batches):
strictly-earlier ``_bid=`` dirs consolidate into one ``_bid=-G``
generation dir behind an atomic manifest commit, so the per-batch
listing stays O(fold_every) instead of growing linearly in batch count
(VERDICT r07 #4). Readers of ``out_path`` see a ``_bid`` partition
column (the batch id); readers of ``index_path`` should go through
``state.read_batch_state`` (manifest-aware — a crashed fold's orphan
generation dir is invisible there but WOULD appear in a bare
``spark.read.parquet`` of the root).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from kubenetmon_spark.streaming.state import (
    FOLD_EVERY_DEFAULT,
    bounded_coalesce,
    read_batch_state,
    write_batch_state,
)


def start_incremental_dedup_stream(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    trigger: dict | None = None,
    fold_every: int = FOLD_EVERY_DEFAULT,
) -> StreamingQuery:
    """foreachBatch wiring of ``dedup_lines_incremental``: read the
    index (empty on first batch, minus this batch's own partition on a
    retry), dedup the micro-batch, overwrite survivors into
    ``out_path/_bid=<batch_id>`` and new lines into
    ``index_path/_bid=<batch_id>`` (folded every ``fold_every``
    batches so the index listing stays O(1) in stream length —
    state.write_batch_state)."""
    from pyspark.sql import functions as F

    from kubenetmon_spark.operators.curation import dedup_lines_incremental
    from kubenetmon_spark.streaming.job import _apply_trigger

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # absent index = first batch; unreadable EXISTING index raises
        # (a silent None would re-admit every already-seen line)
        seen = read_batch_state(spark, index_path)
        if seen is not None:
            # A replayed batch must not see its own partial writes:
            # partition-prune away _bid == batch_id before the anti-join.
            seen = seen.filter(F.col("_bid") != batch_id).drop("_bid")
        out, updated = dedup_lines_incremental(
            batch_df, seen, id_col, text_col, line_sep
        )
        if seen is not None:
            # only the lines the (pruned) index does not already hold
            new_lines = updated.join(seen, "line", "left_anti")
        else:
            new_lines = updated
        # Deterministic per-batch directories: a retry overwrites the
        # same content instead of appending duplicates.
        bounded_coalesce(out).write.mode("overwrite").parquet(
            f"{out_path}/_bid={batch_id}"
        )
        write_batch_state(
            new_lines, index_path, batch_id, fold_every=fold_every
        )

    writer = docs_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return _apply_trigger(writer, trigger).start()


def _start_survivor_index_stream(
    stream: DataFrame,
    dedup,
    docs_store: str,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    trigger: dict | None,
    fold_every: int,
) -> StreamingQuery:
    """foreachBatch body shared by the near-dup dedup streams.

    Each micro-batch reads the survivor index ``index_path/bands`` and
    ``index_path/<docs_store>`` minus its own ``_bid`` (a replayed
    batch must not see its own partial writes), runs
    ``dedup(batch, index_bands, index_docs) -> (survivors, new_bands,
    new_docs)``, overwrites the survivors into ``out_path/_bid=<n>``
    and writes both index deltas through ``write_batch_state`` (same
    ``_bid=<n>``, folded every ``fold_every`` batches). Every write is
    batch-id-deterministic, so an at-least-once retry overwrites its
    own output."""
    from pyspark.sql import functions as F

    from kubenetmon_spark.streaming.job import _apply_trigger

    stores = ("bands", docs_store)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def read_index(store):
            # absent = first batch; unreadable EXISTING index raises (a
            # silent None would re-admit known duplicates)
            df = read_batch_state(spark, f"{index_path}/{store}")
            if df is None:
                return None
            return df.filter(F.col("_bid") != batch_id).drop("_bid")

        index = [read_index(store) for store in stores]
        if any(df is None for df in index):
            index = [None] * len(stores)
        survivors, *deltas = dedup(batch_df, *index)
        bounded_coalesce(survivors).write.mode("overwrite").parquet(
            f"{out_path}/_bid={batch_id}"
        )
        for store, delta in zip(stores, deltas):
            write_batch_state(
                delta, f"{index_path}/{store}", batch_id, fold_every=fold_every
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    return _apply_trigger(writer, trigger).start()


def start_minhash_dedup_stream(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    verify_threshold_bp: int = 3000,
    trigger: dict | None = None,
    fold_every: int = FOLD_EVERY_DEFAULT,
) -> StreamingQuery:
    """foreachBatch wiring of ``minhash_dedup_incremental``: NEAR-dup
    (not just exact-line) dedup of a crawl feed against a persisted
    survivor index. Survivors land in ``out_path/_bid=<n>``; their band
    keys and ``(_id, sh, sz)`` document rows append to
    ``index_path/bands|docs/_bid=<n>`` — deterministic per-batch dirs,
    so an at-least-once retry overwrites its own output (same contract
    as start_incremental_dedup_stream). The corpus is never
    re-shingled: each batch pays its own shingling plus a band-key
    equi-join against the index.

    Raises ValueError before the query starts when ``index_path`` holds
    an old-layout ``shingles`` store: the stream would read no ``docs``
    store there, take the index for empty and re-admit every indexed
    near-duplicate. MIGRATION.md item 13 converts such an index."""
    from kubenetmon_spark import fs as _fsm
    from kubenetmon_spark.operators.dedup import minhash_dedup_incremental

    legacy = _fsm.join(index_path, "shingles")
    if _fsm.get_fs(legacy, docs_stream.sparkSession).exists(legacy):
        raise ValueError(
            f"start_minhash_dedup_stream: {legacy} is a MinHash index store "
            "in the old one-row-per-shingle layout; convert it to "
            "index_path/docs (MIGRATION.md item 13) before streaming "
            "against this index"
        )
    return _start_survivor_index_stream(
        docs_stream,
        lambda batch, index_bands, index_docs: minhash_dedup_incremental(
            batch, index_bands, index_docs, id_col, text_col,
            num_hashes=num_hashes, bands=bands, n=n,
            verify_threshold_bp=verify_threshold_bp,
        ),
        "docs", out_path, index_path, checkpoint_dir, trigger, fold_every,
    )


def start_cosine_dedup_stream(
    vecs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_bp: int = 9500,
    bands: int = 16,
    band_bits: int = 16,
    trigger: dict | None = None,
    fold_every: int = FOLD_EVERY_DEFAULT,
) -> StreamingQuery:
    """foreachBatch wiring of ``cosine_dedup_incremental`` — the
    embedding-space twin of :func:`start_minhash_dedup_stream`, with
    the same foreachBatch body and at-least-once contract: survivors
    land in ``out_path/_bid=<n>``; their band keys and vectors append
    to ``index_path/bands|vectors/_bid=<n>``."""
    from kubenetmon_spark.operators.similarity import cosine_dedup_incremental

    return _start_survivor_index_stream(
        vecs_stream,
        lambda batch, index_bands, index_vectors: cosine_dedup_incremental(
            batch, index_bands, index_vectors, id_col, vec_col,
            threshold_bp=threshold_bp, bands=bands, band_bits=band_bits,
        ),
        "vectors", out_path, index_path, checkpoint_dir, trigger, fold_every,
    )
