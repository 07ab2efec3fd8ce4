"""Fact-table storage lifecycle: partitioned writes, compaction, retention.

Storage layout mirrors what the reference's DDL buys from ClickHouse
(reference test/network_flows_0.sql:39-44):

- ``PARTITION BY toDate(...)``      -> parquet ``partitionBy('date')``
- SummingMergeTree background merge -> ``compact()`` re-aggregating a
  partition with the same groupBy-sum contract (operators/flows.py)
- sparse PRIMARY KEY index          -> each file sorted on ``(date, key
  prefix)`` so parquet row-group min/max stats skip data the same way
- ``TTL ... toIntervalDay(90)`` with ``ttl_only_drop_parts=1``
                                    -> ``apply_retention()`` dropping whole
  date partitions (exact analogue: whole-part drops)
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubenetmon_spark import fs as _fsm
from kubenetmon_spark.fs import join as _join
from kubenetmon_spark.operators.flows import summing_aggregate
from kubenetmon_spark.schema import PRIMARY_KEY_PREFIX

# All lifecycle file operations (partition detach/attach/move/replace,
# TTL drops and markers, backup manifests) go through the FS adapter
# (kubenetmon_spark/fs.py): a table root given as hdfs://s3a://abfs://
# URI runs the same lifecycle through the JVM Hadoop FileSystem the
# data writes already use. Rename-based ops (detach/attach/move) are
# single metadata renames on HDFS; on object stores Hadoop emulates
# rename as copy+delete — still correct (the ops never overwrite an
# existing destination) but O(partition bytes), so schedule them like
# the data movements they physically are there.


def _same_store(a: str, b: str, op: str) -> None:
    """Two-path lifecycle ops (move/replace/backup/restore) run through
    ONE FS implementation — both paths must be the same addressing form
    (both plain local, or both URIs; HadoopFS handles mixed schemes
    itself). Mixing a local path with a URI would silently resolve the
    URI against the local filesystem."""
    if _fsm.is_uri(a) != _fsm.is_uri(b):
        raise ValueError(
            f"{op}: paths mix local and URI addressing ({a!r} vs {b!r}); "
            "use the same form for both (e.g. file:/... for both)"
        )


def _list_date_partitions(fs: "_fsm.FS", path: str) -> list[str]:
    """Sorted ``date=...`` child directory names of a table root."""
    if not fs.is_dir(path):
        return []
    return sorted(
        n
        for n in fs.list_names(path)
        if n.startswith("date=") and fs.is_dir(_join(path, n))
    )


# --- partition mutation guard vs concurrent appends ---------------------
#
# EVERY op that read-modify-writes (or drops/renames) a date partition
# runs under this guard: compact, apply_retention, mutate, delete_where,
# deduplicate, apply_rollup_ttl, clear_column_in_partition (and so
# apply_column_ttl), detach/attach/move/replace partition, and
# backfill_dates (backfill.py). A streaming micro-batch appending into
# the partition between the op's read and its overwrite would be
# silently LOST. Ops that DISCOVER their affected partitions by
# scanning (mutate/delete_where/deduplicate/rollup) lock the discovered
# set and then RE-READ under the lock, so a batch landing between
# discovery and lock folds into the rewrite instead of being
# overwritten away (see each op's concurrency note). The
# reference's analogue (MergeTree background merges) is safe under
# concurrent inserts by construction; here the same guarantee is an
# enforced two-sided protocol over the FS adapter (never just a
# documented caveat):
#
# - mutators take an EXCLUSIVE per-partition lock (evolve.py's
#   exclusive_lock: atomic-create lockfile where the store has one, the
#   heartbeat/fencing lease elsewhere), then WAIT until no append
#   intent is in flight for the partition;
# - appenders publish a per-partition APPEND INTENT file before
#   checking for locks, rename their staged files in, then retract the
#   intent (commit_flow_batch). Publishing BEFORE checking is what
#   closes the race on a linearizable store: whichever side's
#   visibility check runs second sees the other side. An appender that
#   finds a lock retracts its intents (so it never deadlocks the
#   mutator) and retries until the lock clears.
#
# Common-path cost for the stream: one intent PUT + one lock existence
# check + one DELETE per touched date per micro-batch — no data-plane
# work, no extra shuffle. A crashed appender leaves a stale intent;
# mutators then fail LOUD with the intent path and age (the house rule:
# no silent steals — remove the file if its owner is known dead).

_LIFECYCLE_DIR = "_lifecycle"
_TABLE_WIDE = "_table"


def _lifecycle_lock(path: str, partition: str) -> str:
    return _join(path, _LIFECYCLE_DIR, "locks", f"{partition}.lock")


def _intent_dir(path: str, partition: str) -> str:
    return _join(path, _LIFECYCLE_DIR, "appends", partition)


def _live_intents(fs: "_fsm.FS", path: str, partition: str | None) -> list[str]:
    """Append-intent file paths for one partition, or for ALL partitions
    when ``partition`` is None (table-wide mutation)."""
    root = _join(path, _LIFECYCLE_DIR, "appends")
    if not fs.is_dir(root):
        return []
    parts = [partition] if partition is not None else fs.list_names(root)
    out: list[str] = []
    for part in parts:
        d = _join(root, part)
        if fs.is_dir(d):
            out.extend(_join(d, n) for n in fs.list_names(d))
    return out


@contextmanager
def partition_mutation_guard(
    path: str,
    partition: str | None = None,
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
):
    """Exclusive right to rewrite/drop ``partition`` (``date=...``; None
    = the whole table) with no append landing mid-mutation. Yields the
    lock's ``fence()`` — call it immediately before publishing the
    rewrite. Raises TimeoutError (listing the in-flight intent files)
    if appends do not drain: a mutation targeting a partition a stream
    is actively writing is an operator error and fails loud.

    Mutator-vs-mutator across GRANULARITIES is also excluded (round 6):
    a table-wide mutation (``compact(path)`` with no target) and a
    per-partition one hold DIFFERENT lock files, so without more they
    would both proceed and one rewrite would silently lose the other.
    The protocol mirrors append_intent's defer rule: a per-partition
    mutator that finds the table-wide lock after staking its own
    releases and retries (it never blocks the table-wide mutator); the
    table-wide mutator, once it holds ``_table``, waits for every other
    per-partition lock to clear. A multi-partition op already holding
    sibling locks when a table-wide mutation starts fails LOUD on its
    next acquisition (lock timeout) and unwinds — loud beats lost."""
    import time as _time

    from kubenetmon_spark.evolve import exclusive_lock

    fs = _fsm.get_fs(path)
    part = partition if partition is not None else _TABLE_WIDE
    lock = _lifecycle_lock(path, part)
    locks_dir = _join(path, _LIFECYCLE_DIR, "locks")
    table_lock = _lifecycle_lock(path, _TABLE_WIDE)
    fs.mkdirs(locks_dir)
    acquire_deadline = _time.monotonic() + lock_timeout_s
    while True:
        ctx = exclusive_lock(
            lock, timeout_s=lock_timeout_s, what="partition lifecycle lock"
        )
        fence = ctx.__enter__()
        # the probe runs while we HOLD the lock: an FS error here must
        # release it or the leaked .lock file wedges every future
        # mutator on this partition (r6 advisor catch) — mirror the
        # finally that protects the yielded body below
        try:
            table_locked = partition is not None and fs.exists(table_lock)
        except BaseException:
            ctx.__exit__(None, None, None)
            raise
        if not table_locked:
            break
        # a table-wide mutation is in progress: defer (release our
        # stake so IT never waits on us), then retry
        ctx.__exit__(None, None, None)
        if _time.monotonic() > acquire_deadline:
            raise TimeoutError(
                f"partition mutation on {path} ({part}) blocked: "
                f"table-wide lifecycle lock held ({table_lock}) — a "
                "whole-table compact/mutation is running; retry after "
                "it finishes (or remove the lock if its owner is known "
                "dead)"
            )
        _time.sleep(0.2)
    try:
        if partition is None:
            # table-wide: per-partition mutators defer to us, but ones
            # already holding their lock must finish (or fail loud)
            # before we may read — wait for every other lock to clear
            deadline = _time.monotonic() + drain_timeout_s
            while True:
                others = [
                    n
                    for n in (
                        fs.list_names(locks_dir)
                        if fs.is_dir(locks_dir)
                        else []
                    )
                    if n.endswith(".lock") and n != f"{_TABLE_WIDE}.lock"
                ]
                if not others:
                    break
                if _time.monotonic() > deadline:
                    raise TimeoutError(
                        f"table-wide mutation on {path} blocked: "
                        f"per-partition lifecycle locks still held after "
                        f"{drain_timeout_s:.0f}s: {others[:5]} — another "
                        "lifecycle op is mid-rewrite (let it finish, or "
                        "remove the lock if its owner is known dead)"
                    )
                _time.sleep(0.2)
        deadline = _time.monotonic() + drain_timeout_s
        while True:
            intents = _live_intents(fs, path, partition)
            if not intents:
                break
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"partition mutation on {path} ({part}) blocked: "
                    f"append intents still in flight after "
                    f"{drain_timeout_s:.0f}s: {intents[:5]} — a stream is "
                    "writing this partition (stop it or target a closed "
                    "partition), or a crashed appender left a stale "
                    "intent (remove the file if its owner is known dead)"
                )
            _time.sleep(0.2)
        yield fence
    finally:
        ctx.__exit__(None, None, None)


@contextmanager
def partitions_mutation_guard(
    path: str,
    partitions: list[str],
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
):
    """Multi-partition form of :func:`partition_mutation_guard` for
    lifecycle ops whose rewrite spans several ``date=...`` partitions
    (mutate / delete_where / deduplicate / rollup-TTL / backfill).
    Locks are acquired in sorted order so two multi-partition mutators
    cannot deadlock each other silently — a contender that cannot make
    progress fails loud via ``lock_timeout_s``. Yields one ``fence()``
    that checks every held lock."""
    from contextlib import ExitStack

    with ExitStack() as stack:
        fences = [
            stack.enter_context(
                partition_mutation_guard(
                    path, p, lock_timeout_s=lock_timeout_s,
                    drain_timeout_s=drain_timeout_s,
                )
            )
            for p in sorted(set(partitions))
        ]

        def fence() -> None:
            for f in fences:
                f()

        yield fence


@contextmanager
def append_intent(path: str, partitions: list[str], wait_s: float = 120.0):
    """Declare an in-flight append to ``partitions`` (``date=...``
    names). Publishes one intent file per partition, THEN checks for
    lifecycle locks (table-wide or per-partition): if any is held, the
    intents are retracted and the append waits for the mutator —
    retrying until ``wait_s``, then raising. Use around every append
    that can race a lifecycle op (the streaming flow sink does)."""
    import time as _time
    import uuid as _uuid

    fs = _fsm.get_fs(path)
    token = _uuid.uuid4().hex
    locks = [_lifecycle_lock(path, _TABLE_WIDE)] + [
        _lifecycle_lock(path, p) for p in partitions
    ]
    deadline = _time.monotonic() + wait_s
    placed: list[str] = []

    def _retract() -> None:
        for p in placed:
            try:
                fs.remove_file(p)
            except FileNotFoundError:
                pass
        placed.clear()

    while True:
        for part in partitions:
            d = _intent_dir(path, part)
            fs.mkdirs(d)
            intent = _join(d, f"{token}.json")
            fs.write_json_atomic(intent, {"created_unix": _time.time()})
            placed.append(intent)
        held = [lk for lk in locks if fs.exists(lk)]
        if not held:
            break
        # a mutator holds the partition: retract so IT never waits on
        # us, then wait for it
        _retract()
        if _time.monotonic() > deadline:
            raise TimeoutError(
                f"append to {path} blocked: lifecycle lock(s) held for "
                f">{wait_s:.0f}s on {held} — a compaction/retention run "
                "is rewriting the target partition(s); the batch was NOT "
                "written and can be retried"
            )
        _time.sleep(0.2)
    try:
        yield
    finally:
        _retract()


_STAGING_DIR = "_staging"


def _move_in(fs: "_fsm.FS", src: str, dst: str) -> None:
    """Rename a staged file into place. A ``dst`` that already exists
    is this very file: Spark's part names are unique per write job, and
    an object-store rename (copy, then delete) interrupted between its
    two halves leaves both copies."""
    try:
        fs.rename_no_replace(src, dst)
    except FileExistsError:
        if not fs.exists(dst):
            raise
        fs.remove_file(src)


def commit_flow_batch(
    table_path: str,
    marker: str,
    stream: str,
    batch_id: int,
    write_stage,
    dead_letter_path: str | None = None,
    spark: SparkSession | None = None,
) -> None:
    """Make one micro-batch visible exactly once: stage, publish, mark.

    ``write_stage(flow_stage[, dead_stage])`` writes the batch once: its
    flow rows (``write_flows``) and, with ``dead_letter_path``, its
    dead-letter counts, each under ``<root>/_staging/<stream>/<batch_id>``
    (hidden from scans; ``stream`` is unique per writer, since two
    streams can write one table). The stage is complete once its last
    write has ``_SUCCESS``. Publish takes append intents on the staged
    ``date=`` dirs, renames each staged file into place, writes
    ``marker`` and deletes the stage. A retry skips a marked batch,
    resumes the publish of a complete stage (moved files have left it)
    and rewrites an incomplete one: the counterpart of ClickHouse's
    ``insert_deduplication_token`` (reference pkg/inserter/worker.go:248).
    """
    mfs = _fsm.get_fs(marker, spark)
    if mfs.exists(marker):  # a retry of a published batch
        return
    tail = _join(_STAGING_DIR, stream, str(batch_id))
    stages = [
        (_fsm.get_fs(root, spark), root, _join(root, tail))
        for root in (table_path, dead_letter_path)
        if root is not None
    ]
    last_fs, _, last = stages[-1]
    if not last_fs.exists(_join(last, "_SUCCESS")):
        for fs, _, d in stages:
            fs.delete_dir(d)
        write_stage(*(d for _, _, d in stages))
    tfs, _, stage = stages[0]
    dates = [n for n in tfs.list_names(stage) if n.startswith("date=")]
    moves = [(tfs, _join(stage, p), _join(table_path, p)) for p in dates]
    moves += [(fs, d, root) for fs, root, d in stages[1:]]
    with append_intent(table_path, dates) if dates else nullcontext():
        for fs, src, dst in moves:
            fs.mkdirs(dst)
            for n in fs.list_names(src):
                if n.endswith(".parquet"):  # not _SUCCESS or .crc
                    _move_in(fs, _join(src, n), _join(dst, n))
    mfs.mkdirs(_fsm.parent(marker))
    mfs.write_bytes_atomic(marker, b"")
    for fs, _, d in stages:
        fs.delete_dir(d)


def _by_date(df: DataFrame, key: list[str]) -> DataFrame:
    """``df`` laid out for a ``partitionBy("date")`` write: each date's
    rows in one task (one file per date per write), sorted on ``(date,
    *key)``. The sort leads with ``date`` because Spark's planned write
    requires that order and, when a child sort does not give it, puts a
    sort on ``date`` alone in its place, so the key never reaches the
    file."""
    return df.repartition("date").sortWithinPartitions("date", *key)


def _flow_key(df: DataFrame) -> list[str]:
    return [c for c in PRIMARY_KEY_PREFIX if c in df.columns]


def append_by_date(df: DataFrame, path: str) -> None:
    """Append ``df`` as it is laid out, partitioned by date: the one
    append of both ``write_flows`` and the flow stream, whose SQL text
    carries its own distribution and order (flowsql.dated_write_sql)."""
    df.write.mode("append").partitionBy("date").parquet(path)


def _rewrite_by_date(df: DataFrame, path: str, key: list[str]) -> None:
    """Overwrite the date partitions present in ``df``, each with one
    file sorted on ``(date, *key)``. The overwrite mode is pinned per
    write: under the default "static" mode a rewrite of some dates would
    wipe every OTHER date partition."""
    (
        _by_date(df, key)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(path)
    )


def checkpoint_stream_id(checkpoint: str, spark=None) -> str | None:
    """Spark's id for the query of ``checkpoint`` (its ``metadata``
    file, written when the query first starts and kept across
    restarts), or None before that. It names the query's stages."""
    fs = _fsm.get_fs(checkpoint, spark)
    meta = _join(checkpoint, "metadata")
    return fs.read_json(meta)["id"] if fs.exists(meta) else None


def drop_orphan_stages(
    root: str, checkpoints: list[str], spark=None
) -> list[str]:
    """Delete ``<root>/_staging/<stream>/`` for every stream that none of
    ``checkpoints`` names — what a query whose checkpoint was deleted for
    good leaves of a cut commit (hidden from scans, never published).
    ``root`` is a flow table or a dead-letter root; ``checkpoints`` must
    list EVERY live query that writes it, since a live query's stage
    deleted mid-commit loses that batch. The stages are listed before the
    checkpoints are read, so a query that starts meanwhile is not taken
    for an orphan. Returns the deleted stream ids."""
    fs = _fsm.get_fs(root, spark)
    stages = _join(root, _STAGING_DIR)
    found = fs.list_names(stages) if fs.is_dir(stages) else []
    live = {checkpoint_stream_id(c, spark) for c in checkpoints}
    orphans = sorted(n for n in found if n not in live)
    for n in orphans:
        fs.delete_dir(_join(stages, n))
    return orphans


def write_flows(df: DataFrame, path: str) -> None:
    """Append fact rows, partitioned by date, sorted on ``(date,
    PRIMARY_KEY_PREFIX…)`` for data skipping.

    Rows are shuffled to ``date`` before the write so each task owns
    whole date partitions: one file per date per batch. Without it,
    every one of N shuffle tasks appends a sliver to every date,
    producing N x dates tiny files per batch (measured 960 files -> 30
    at sf0.1). The flow stream gets the same layout from its SQL text
    instead (flowsql.dated_write_sql).
    """
    append_by_date(_by_date(df, _flow_key(df)), path)


def read_flows(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read the flow table. ``merge_schema=True`` unions the schemas of
    every partition (parquet ``mergeSchema``) so a column added later —
    the reference handles this case with its open ``connectionFlags``
    map (network_flows_0.sql:9), but a true new column is the general
    form — appears as null in old partitions. Schema merging reads
    every file footer; at 100 TB keep it off for hot queries and run
    evolved-schema reads through this flag only when needed."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_flows_guarded(
    spark: SparkSession,
    path: str,
    *,
    date_min: str | None = None,
    date_max: str | None = None,
    max_rows_to_read: int | None = None,
    max_bytes_to_read: int | None = None,
) -> DataFrame:
    """Guarded flow-table read: ClickHouse-style pre-flight refusal
    (guards.py footer estimate over the SAME date pruning the scan
    performs) fused with the pruned read, so a dashboard cannot launch
    an over-limit scan at all — the limit trips on the driver before
    the first executor task. The returned DataFrame carries the date
    filters, which Catalyst turns into PartitionFilters on the scan."""
    from kubenetmon_spark.guards import check_scan_limits

    check_scan_limits(
        path,
        min_value=date_min,
        max_value=date_max,
        max_rows_to_read=max_rows_to_read,
        max_bytes_to_read=max_bytes_to_read,
    )
    df = spark.read.parquet(path)
    if date_min is not None:
        df = df.filter(F.col("date") >= F.lit(date_min))
    if date_max is not None:
        df = df.filter(F.col("date") <= F.lit(date_max))
    return df


def _n_data_files(fs: "_fsm.FS", part_dir: str) -> int:
    """Visible ``*.parquet`` data files directly under a partition dir
    (hidden ``_``/``.`` names — commit debris, markers — excluded, the
    same rule Spark's scan applies)."""
    if not fs.is_dir(part_dir):
        return 0
    return sum(
        1
        for n in fs.list_names(part_dir)
        if n.endswith(".parquet") and not _fsm._is_hidden_segment(n)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_date: str | None = None,
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
    presummed: bool = False,
) -> None:
    """Re-sum closed partitions — the background-merge analogue.

    Idempotent: summing_aggregate over already-compacted data is a no-op
    row-wise. Runs per date partition, embarrassingly parallel, and with
    dynamic partition overwrite only rewrites the partitions it touched.

    ``presummed=True`` declares that EVERY append to this table was
    ``summing_aggregate`` output (the streaming sink's posture — one
    pre-summed, key-sorted file per (batch, date), exactly ClickHouse
    summing rows at insert-block formation). Under that declaration
    compact's cost becomes proportional to MERGE DEBT, like MergeTree
    merges (which only select partitions holding >1 part): a date
    partition with at most one data file already satisfies the
    compacted postcondition (each dim key once, sorted) and is skipped
    outright — no read, no lock, no job; a table written by a single
    batch compacts in one directory listing. The default (False) keeps
    the general contract: rewrite everything, because ``write_flows``
    also accepts unaggregated rows whose single file still needs an
    in-file fold. The file-count probe runs before the lock: a batch
    landing between probe and lock at worst leaves new merge debt for
    the next compact — exactly the race a MergeTree merge selection
    tolerates — and never loses rows, since skipped partitions are
    never overwritten.

    Safe under concurrent streaming appends BY CONSTRUCTION, not by
    convention: the whole read-checkpoint-overwrite runs inside
    :func:`partitions_mutation_guard`, so an append into a selected
    partition either completes before the compaction reads (its rows
    are compacted) or waits/fails loud behind the lock (its rows land
    after the overwrite) — never silently lost in between. MergeTree
    background merges give the same guarantee server-side.
    """
    fs = _fsm.get_fs(path, spark)
    parts = (
        [f"date={target_date}"]
        if target_date is not None
        else _list_date_partitions(fs, path)
    )
    if presummed:
        parts = [
            p
            for p in parts
            if _n_data_files(fs, _join(path, p)) >= 2
        ]
    if not parts:
        return
    dates = sorted(p.split("=", 1)[1] for p in parts)
    with partitions_mutation_guard(
        path,
        parts,
        lock_timeout_s=lock_timeout_s,
        drain_timeout_s=drain_timeout_s,
    ) as fence:
        # IN on the partition column prunes the scan to the selected
        # dates (PartitionFilters), so the read is debt-proportional too.
        df = spark.read.parquet(path).filter(
            F.col("date").isin([F.lit(d).cast("date") for d in dates])
        )
        # Materialize before overwriting the same path we read from — the
        # write must never delete input files while the read is still lazy.
        compacted = summing_aggregate(df).localCheckpoint(eager=True)
        fence()  # abort (loud) if a lease moved during the long read
        _rewrite_by_date(compacted, path, _flow_key(compacted))


def apply_retention(path: str, keep_days: int = 90, today: date | None = None) -> list[str]:
    """Drop whole date partitions older than ``keep_days``.

    Matches the reference's ``ttl_only_drop_parts=1`` semantics (whole
    parts dropped, never row-level deletes). Returns dropped partitions.

    Each drop runs under :func:`partition_mutation_guard`: a TTL
    partition is 90 days cold so contention is pathological, but a
    replayed/backfill append racing the drop would otherwise be half
    deleted or silently resurrect the partition — same enforcement as
    ``compact``, at a few uncontended FS round-trips per dropped date.
    """
    today = today or date.today()
    cutoff = today - timedelta(days=keep_days)
    dropped: list[str] = []
    fs = _fsm.get_fs(path)
    for name in _list_date_partitions(fs, path):
        try:
            part_date = date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            continue
        if part_date < cutoff:
            with partition_mutation_guard(path, name):
                fs.delete_dir(_join(path, name))
            dropped.append(name)
    return dropped


def table_stats(path: str) -> list[dict]:
    """Per-partition storage statistics — the ClickHouse ``system.parts``
    observability analogue (file count, compressed bytes, row count,
    row-group count per date partition).

    Reads parquet FOOTERS only (a metadata operation, no data IO) via
    pyarrow on the caller's machine; at warehouse scale the same numbers
    come from the table catalog. The row counts let an operator verify
    compaction took effect (files collapse, rows drop to the live-key
    count) without scanning data.
    """
    import pyarrow.parquet as pq

    fs = _fsm.get_fs(path)
    out: list[dict] = []
    for name in _list_date_partitions(fs, path):
        part = _join(path, name)
        files = fs.glob_parquet(part)
        rows = 0
        row_groups = 0
        nbytes = 0
        for f in files:
            with fs.open_seekable(f) as fh:
                md = pq.read_metadata(fh)
            rows += md.num_rows
            row_groups += md.num_row_groups
            nbytes += fs.file_size(f)
        out.append(
            {
                "partition": name,
                "n_files": len(files),
                "n_rows": rows,
                "n_row_groups": row_groups,
                "bytes": nbytes,
            }
        )
    return out


def write_projection(
    spark: SparkSession,
    base_path: str,
    proj_path: str,
    sort_cols: list[str],
    target_date: str | None = None,
) -> None:
    """Maintain a ClickHouse-PROJECTION-style alternate copy of the flow
    table: same rows, same day partitioning, but sorted WITHIN partitions
    on a different key so parquet row-group min/max stats skip for a
    different predicate family (the base copy sorts on
    PRIMARY_KEY_PREFIX; a remote-centric projection sorts on e.g.
    (remoteApp, remotePod)).

    ClickHouse picks the projection automatically at query time;
    ``scan_flows`` below does the same by matching predicate columns
    against each copy's sort prefix. Maintenance is per-partition and
    embarrassingly parallel, exactly like ``compact`` — run both in the
    same lifecycle job (a projection of compacted data re-sorts the
    already-merged rows; re-running is idempotent).
    """
    src = spark.read.parquet(base_path)
    if target_date is not None:
        src = src.filter(F.col("date") == target_date)
    _rewrite_by_date(src, proj_path, [c for c in sort_cols if c in src.columns])


def scan_flows(
    spark: SparkSession,
    base_path: str,
    predicate_cols: list[str],
    projections: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Projection-aware scan: pick the copy whose sort-key PREFIX covers
    the most leading predicate columns (ClickHouse's projection chooser,
    simplified to prefix-match scoring); fall back to the base table.
    ``projections`` maps path -> its sort key. Row-group skipping does
    the rest once the right copy is chosen — same data, better stats
    locality, zero query rewrite."""
    from kubenetmon_spark.schema import PRIMARY_KEY_PREFIX as _PK

    best_path, best_score = base_path, _prefix_score(tuple(_PK), predicate_cols)
    for path, key in (projections or {}).items():
        score = _prefix_score(tuple(key), predicate_cols)
        if score > best_score:
            best_path, best_score = path, score
    return spark.read.parquet(best_path)


def _prefix_score(sort_key: tuple[str, ...], predicate_cols: list[str]) -> int:
    """Number of LEADING sort-key columns that appear in the predicate —
    stats-based skipping only helps while the prefix is constrained."""
    score = 0
    for c in sort_key:
        if c in predicate_cols:
            score += 1
        else:
            break
    return score


def mutate(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
) -> list[str]:
    """ClickHouse mutation analogue: ``ALTER TABLE ... UPDATE col =
    expr WHERE predicate`` as a partition-scoped rewrite job.

    Like ClickHouse, mutations rewrite whole parts, never rows in
    place; unlike ClickHouse they are synchronous here. Only the date
    partitions that CONTAIN matching rows are rewritten (dynamic
    partition overwrite — the exact analogue of mutating only the
    parts whose min/max ranges intersect the predicate), so a
    one-day fix on a 90-day table touches one partition. Predicate
    and assignment values are SQL expression strings, evaluated
    per-row; non-matching rows in an affected partition are rewritten
    byte-identical.

    Concurrency: the affected partitions are discovered by an unguarded
    scan, then LOCKED (:func:`partitions_mutation_guard` — appends into
    them drain or the mutation fails loud) and RE-READ under the lock,
    so a batch that lands between discovery and lock is mutated too,
    never overwritten away. Matching rows appended into *other*
    partitions after discovery are not mutated — ClickHouse semantics
    exactly (inserts concurrent with a mutation are not mutated).

    Returns the list of rewritten ``date=...`` partition names.
    """
    pred = F.expr(predicate)
    affected = [
        r.date
        for r in spark.read.parquet(path)
        .filter(pred)
        .select("date")
        .distinct()
        .collect()
    ]
    if not affected:
        return []
    with partitions_mutation_guard(
        path,
        [f"date={d}" for d in affected],
        lock_timeout_s=lock_timeout_s,
        drain_timeout_s=drain_timeout_s,
    ) as fence:
        # fresh read under the lock: new files in the locked partitions
        # (appends that won the race to land first) are included
        df = spark.read.parquet(path)
        sub = df.filter(F.col("date").isin(affected))
        updated = sub
        for col, expr in assignments.items():
            updated = updated.withColumn(
                col,
                F.when(pred, F.expr(expr).cast(dict(sub.dtypes)[col])).otherwise(
                    F.col(col)
                ),
            )
        updated = updated.localCheckpoint(eager=True)
        fence()
        _rewrite_by_date(updated, path, _flow_key(updated))
    return sorted(f"date={d}" for d in affected)


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
) -> list[str]:
    """ClickHouse ``ALTER TABLE ... DELETE WHERE`` / lightweight-DELETE
    analogue: partition-scoped rewrite keeping only non-matching rows.
    Partitions with no matching rows are not touched (row-level
    retention, vs ``apply_retention``'s whole-partition drops).
    Same discover-lock-reread protocol as ``mutate`` (see its
    concurrency note). Returns the rewritten partition names."""
    pred = F.expr(predicate)
    affected = [
        r.date
        for r in spark.read.parquet(path)
        .filter(pred)
        .select("date")
        .distinct()
        .collect()
    ]
    if not affected:
        return []
    with partitions_mutation_guard(
        path,
        [f"date={d}" for d in affected],
        lock_timeout_s=lock_timeout_s,
        drain_timeout_s=drain_timeout_s,
    ) as fence:
        df = spark.read.parquet(path)  # fresh listing under the lock
        remaining = (
            df.filter(F.col("date").isin(affected))
            # ClickHouse DELETE WHERE deletes rows where the predicate
            # is TRUE; a NULL-evaluating row is NOT deleted. Spark's
            # filter(~pred) keeps only TRUE, so it would silently drop
            # NULL-evaluating rows — keep them explicitly.
            .filter(~pred | pred.isNull())
            .localCheckpoint(eager=True)
        )
        # Dynamic overwrite only rewrites partitions PRESENT in the output —
        # a fully-deleted partition writes no rows, so drop it explicitly.
        kept = {r.date for r in remaining.select("date").distinct().collect()}
        emptied = [d for d in affected if d not in kept]
        fence()
        if kept:
            _rewrite_by_date(
                remaining.filter(F.col("date").isin(list(kept))),
                path,
                _flow_key(remaining),
            )
        fs = _fsm.get_fs(path, spark)
        for d in emptied:
            fs.delete_dir(_join(path, f"date={d}"))
    return sorted(f"date={d}" for d in affected)


def deduplicate(
    spark: SparkSession,
    path: str,
    by: list[str] | None = None,
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
) -> list[str]:
    """ClickHouse ``OPTIMIZE TABLE ... DEDUPLICATE [BY col, ...]``
    analogue: drop duplicate rows at rest, partition-scoped.

    ``by=None`` removes full-row duplicates (ClickHouse's default);
    with ``by`` the surviving row per key is chosen DETERMINISTICALLY —
    the min over the canonical string form of the remaining columns
    (ClickHouse keeps an arbitrary row; an engine whose gate is
    value-hash equality wants reproducible picks).

    Deduplication is PER PARTITION (``date`` joins the key implicitly) —
    ClickHouse merges never cross partition boundaries either, and it
    keeps the rewrite partition-local. Only partitions that actually
    contain duplicates are rewritten (same touch-minimal contract as
    ``mutate``/``delete_where``). Returns the rewritten partition names.
    """
    df = spark.read.parquet(path)
    key = list(by) if by is not None else [c for c in df.columns]
    if "date" not in key:
        key = ["date"] + key

    # A map column can never be a Spark group/distinct key — substitute
    # its canonical sorted-JSON form (same trick as the summing
    # aggregation's flags key, functions/flags.py).
    types = dict(df.dtypes)

    def key_expr(c: str):
        if types[c].startswith("map"):
            return F.to_json(
                F.map_from_entries(F.array_sort(F.map_entries(F.col(c))))
            ).alias(f"_k_{c}")
        return F.col(c)

    key_exprs = [key_expr(c) for c in key]
    key_names = [
        f"_k_{c}" if types[c].startswith("map") else c for c in key
    ]
    dup_dates = [
        r.date
        for r in df.select(*key_exprs)
        .groupBy(*key_names)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("date")
        .distinct()
        .collect()
    ]
    if not dup_dates:
        return []
    from pyspark.sql.window import Window

    with partitions_mutation_guard(
        path,
        [f"date={d}" for d in dup_dates],
        lock_timeout_s=lock_timeout_s,
        drain_timeout_s=drain_timeout_s,
    ) as fence:
        # same discover-lock-reread protocol as mutate: rows appended
        # into a duplicate-bearing partition before the lock landed are
        # deduplicated WITH the rest, never overwritten away
        scoped = spark.read.parquet(path).filter(F.col("date").isin(dup_dates))
        rest = [c for c in df.columns if c not in key]
        tiebreak = (
            F.concat_ws("\x01", *[F.col(c).cast("string") for c in rest])
            if rest
            else F.lit(1)
        )
        aug = scoped
        for c in key:
            if types[c].startswith("map"):
                aug = aug.withColumn(f"_k_{c}", key_expr(c))
        w = Window.partitionBy(*key_names).orderBy(tiebreak)
        deduped = (
            aug.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", *[n for n in key_names if n.startswith("_k_")])
        )
        deduped = deduped.localCheckpoint(eager=True)
        # non-flow tables share none of the flow primary key — fall back to
        # the dedup key so the rewrite is still deterministically ordered
        sort_key = _flow_key(deduped) or [
            c for c in key if c in deduped.columns and c != "date"
        ]
        fence()
        _rewrite_by_date(deduped, path, sort_key)
    return sorted(f"date={d}" for d in dup_dates)


def sample_files(
    spark: SparkSession,
    path: str,
    fraction_pct: int,
    salt: str = "s0",
) -> DataFrame:
    """ClickHouse ``SAMPLE n`` in its cheap form — file-level (SYSTEM)
    sampling: read only a deterministic ~fraction of the table's parquet
    FILES, touching no excluded bytes (row-level hash sampling — q42 —
    still scans everything).

    The pick is md5 over the file's path relative to the table root
    (stable across moves of the root, deterministic across engines and
    runs): keep file iff ``int(md5[:8], 16) % 100 < fraction_pct``.
    Partition columns are recovered with ``basePath``.

    Statistical caveat (same as ClickHouse SYSTEM sampling): files are
    the sampling unit, so estimates are unbiased only across files —
    fine for profiling/ad-hoc scans, not for per-key exactness.
    """
    import hashlib

    fs = _fsm.get_fs(path, spark)
    base = fs.canonical(path)  # slicing base must match walk spelling
    files = sorted(
        f[len(base) :].lstrip("/") for f in fs.glob_parquet(base)
    )
    keep = [
        _join(base, f)
        for f in files
        if int(hashlib.md5(f"{f}|{salt}".encode()).hexdigest()[:8], 16)
        % 100
        < fraction_pct
    ]
    if not keep:
        return spark.read.parquet(path).limit(0)
    return spark.read.option("basePath", path).parquet(*keep)


def apply_rollup_ttl(
    spark: SparkSession,
    path: str,
    age_days: int,
    granularity_seconds: int = 86400,
    today: date | None = None,
    lock_timeout_s: float = 10.0,
    drain_timeout_s: float = 120.0,
) -> list[str]:
    """ClickHouse ``TTL ... GROUP BY <dims> SET bytes = sum(bytes)``
    analogue: partitions older than ``age_days`` are re-aggregated IN
    PLACE at a coarser time granularity — minute rows age into (by
    default) daily rows, preserving every dimension and the exact sums
    while shrinking old storage ~1440x.

    The rewrite is partition-scoped (only partitions older than the
    cutoff are touched) and IDEMPOTENT: rows already at the coarse
    granularity re-aggregate to themselves. Composes with
    ``apply_retention``: the common lifecycle is 7 days raw ->
    rollup-TTL to daily -> 90 days -> drop.
    """
    from contextlib import ExitStack

    today = today or date.today()
    cutoff = (today - timedelta(days=age_days)).isoformat()
    affected = [
        r.date
        for r in spark.read.parquet(path)
        .filter(F.col("date") < F.lit(cutoff))
        .select("date")
        .distinct()
        .collect()
    ]
    if not affected:
        return []
    g = int(granularity_seconds)
    with ExitStack() as stack:
        # lock the aged sources (discover-lock-reread, like mutate), then
        # re-derive the rollup from a fresh read under the locks
        fences = [
            stack.enter_context(
                partition_mutation_guard(
                    path, p, lock_timeout_s=lock_timeout_s,
                    drain_timeout_s=drain_timeout_s,
                )
            )
            for p in sorted(f"date={d}" for d in set(affected))
        ]
        old = (
            spark.read.parquet(path)
            .filter(F.col("date") < F.lit(cutoff))
            .filter(F.col("date").isin(affected))
        )
        coarse = old.withColumn(
            "intervalStartTime",
            F.timestamp_seconds(
                (F.unix_timestamp("intervalStartTime") / g).cast("bigint") * g
            ),
        ).withColumn("intervalSeconds", F.lit(g).cast("int"))
        rolled = summing_aggregate(coarse).withColumn(
            "date", F.to_date("intervalStartTime")
        )
        rolled = rolled.localCheckpoint(eager=True)
        kept = {str(r.date) for r in rolled.select("date").distinct().collect()}
        # granularities coarser than a day move rows to the bucket's
        # FIRST day — those target partitions may be outside the aged
        # set; lock them too before publishing (sorted within this
        # extra batch; a cross-mutator collision fails loud on the lock
        # timeout rather than deadlocking)
        extra = sorted(kept - {str(d) for d in affected})
        fences += [
            stack.enter_context(
                partition_mutation_guard(
                    path, f"date={d}", lock_timeout_s=lock_timeout_s,
                    drain_timeout_s=drain_timeout_s,
                )
            )
            for d in extra
        ]
        # a target partition outside the aged set was ABSENT (or empty)
        # at discovery — had it held rows, its date (< cutoff by
        # construction) would be in `affected`, locked, re-read, and
        # folded. If files appeared there between discovery and this
        # lock (a backfill/late append racing the rollup), the dynamic
        # overwrite below would silently delete them: refuse loud
        # instead — a rerun folds the new rows in as an aged source.
        fs = _fsm.get_fs(path, spark)
        for d in extra:
            tdir = _join(path, f"date={d}")
            if fs.is_dir(tdir) and fs.glob_parquet(tdir):
                raise RuntimeError(
                    f"rollup-TTL target partition date={d} gained rows "
                    f"between discovery and lock (a backfill or late "
                    f"append raced this rollup) — rerun apply_rollup_ttl "
                    "so the new rows fold in as an aged source; nothing "
                    "was rewritten"
                )
        for f in fences:
            f()
        _rewrite_by_date(rolled, path, _flow_key(rolled))
        # source partitions the dynamic overwrite didn't rewrite (their
        # rows moved to the bucket's first day) must be dropped
        # explicitly (same contract as delete_where)
        fs = _fsm.get_fs(path, spark)
        for d in affected:
            if str(d) not in kept:
                fs.delete_dir(_join(path, f"date={d}"))
    return sorted(f"date={d}" for d in affected)


# ---------------------------------------------------------------------------
# ALTER TABLE ... PARTITION ops (DETACH / ATTACH / MOVE / REPLACE)
# ---------------------------------------------------------------------------

def _partition_dir(path: str, partition: str) -> str:
    return _join(path, f"date={partition}")


def _schema_of(fs: "_fsm.FS", table_path: str):
    """Arrow schema of the first data file under a table/partition dir
    (None when empty) — the compatibility probe for partition exchange.
    One footer read; only sought byte ranges transfer on remote FS."""
    import pyarrow.parquet as pq

    for f in fs.glob_parquet(table_path):
        with fs.open_seekable(f) as fh:
            return pq.ParquetFile(fh).schema_arrow
    return None


def detach_partition(path: str, partition: str) -> str:
    """``ALTER TABLE ... DETACH PARTITION``: move the partition dir into
    ``_detached/`` — Spark scans skip underscore-prefixed dirs, so the
    data vanishes from queries instantly (a rename; metadata-only on
    HDFS, copy+delete under the hood on object stores) but stays
    available for re-attach or inspection. Guarded: an append into the
    partition drains first (or the detach fails loud), so no batch's
    files are half-moved."""
    fs = _fsm.get_fs(path)
    src = _partition_dir(path, partition)
    if not fs.exists(src):
        raise FileNotFoundError(f"no partition date={partition} at {path}")
    det = _join(path, "_detached")
    fs.mkdirs(det)
    dst = _join(det, f"date={partition}")
    if fs.exists(dst):
        raise FileExistsError(f"{dst} already detached")
    with partition_mutation_guard(path, f"date={partition}") as fence:
        fence()
        fs.rename_no_replace(src, dst)
    return dst


def attach_partition(path: str, partition: str) -> str:
    """``ALTER TABLE ... ATTACH PARTITION``: restore a detached
    partition (rename back; refuses if the live partition reappeared).
    Guarded like detach: a concurrent append that would recreate the
    live dir mid-attach waits (its rows land beside the attached
    files) instead of colliding with the rename."""
    fs = _fsm.get_fs(path)
    det = _join(path, "_detached", f"date={partition}")
    if not fs.exists(det):
        raise FileNotFoundError(f"nothing detached for date={partition}")
    with partition_mutation_guard(path, f"date={partition}") as fence:
        dst = _partition_dir(path, partition)
        if fs.exists(dst):
            raise FileExistsError(
                f"live partition {dst} exists; drop it first"
            )
        fence()
        fs.rename_no_replace(det, dst)
    return dst


def move_partition(src_path: str, dst_path: str, partition: str) -> None:
    """``ALTER TABLE ... MOVE PARTITION TO TABLE``: rename the partition
    dir from one table to another after an Arrow-schema compatibility
    probe (one footer read per side). The source loses the partition —
    ClickHouse MOVE semantics, and the atomic half of a backfill swap.
    Cross-filesystem moves are not supported (same-store rename only,
    like ClickHouse's same-disk MOVE). Guarded on BOTH tables'
    partition: source appends drain before the rename and destination
    appends cannot recreate the dir mid-move (which would otherwise
    fail the rename after the source was already committed to go)."""
    _same_store(src_path, dst_path, "move_partition")
    fs = _fsm.get_fs(src_path)
    src = _partition_dir(src_path, partition)
    if not fs.exists(src):
        raise FileNotFoundError(f"no partition date={partition} at {src_path}")
    # fail fast BEFORE the locks: a same-table "move" (src == dst) would
    # otherwise self-deadlock acquiring its own partition lock twice and
    # surface as a confusing 10s lock timeout instead of this error
    if fs.exists(_partition_dir(dst_path, partition)):
        raise FileExistsError(
            f"{_partition_dir(dst_path, partition)} exists; use "
            "replace_partition"
        )
    with partition_mutation_guard(src_path, f"date={partition}") as sfence:
        with partition_mutation_guard(dst_path, f"date={partition}") as dfence:
            dst = _partition_dir(dst_path, partition)
            if fs.exists(dst):
                raise FileExistsError(f"{dst} exists; use replace_partition")
            s_schema, d_schema = _schema_of(fs, src), _schema_of(fs, dst_path)
            if (
                d_schema is not None
                and s_schema is not None
                and s_schema != d_schema
            ):
                raise ValueError(
                    f"schema mismatch moving date={partition}: source "
                    f"{s_schema.names} vs destination {d_schema.names}"
                )
            fs.mkdirs(dst_path)
            sfence()
            dfence()
            fs.rename_no_replace(src, dst)


def replace_partition(dst_path: str, src_path: str, partition: str) -> None:
    """``ALTER TABLE dst REPLACE PARTITION ... FROM src``: atomically
    swap dst's partition for a COPY of src's (src keeps its data — the
    staging-table backfill pattern: recompute into staging, replace
    into prod). Copy lands under an underscore temp dir (invisible to
    scans), then two renames publish it; the visible window never shows
    a half-copied partition. The swap itself is guarded: an append into
    the destination partition between the rename-out and the rename-in
    would recreate the live dir, fail the publish, AND strand the old
    data under ``_old-`` — the guard drains appends first and holds
    them out through both renames."""
    _same_store(src_path, dst_path, "replace_partition")
    fs = _fsm.get_fs(dst_path)
    src = _partition_dir(src_path, partition)
    if not fs.exists(src):
        raise FileNotFoundError(f"no partition date={partition} at {src_path}")
    s_schema, d_schema = _schema_of(fs, src), _schema_of(fs, dst_path)
    if d_schema is not None and s_schema is not None and s_schema != d_schema:
        raise ValueError(
            f"schema mismatch replacing date={partition}: source "
            f"{s_schema.names} vs destination {d_schema.names}"
        )
    import uuid as _uuid

    # staging dir is unique PER INVOCATION: the copy phase runs under
    # the SOURCE guard only, so two concurrent replaces into the same
    # destination partition (from different sources) would interleave
    # delete_dir/copy_tree on a shared deterministic tmp path and
    # publish a mixed snapshot once one reached the dst lock (r6
    # advisor catch). Unique names make the copies independent; the
    # dst guard then serializes the publishes.
    tmp = _join(
        dst_path, f"_replace-{partition}-{_uuid.uuid4().hex[:12]}"
    )
    # the slow copy runs under the SOURCE partition's guard (an append
    # into src mid-copy would capture a torn batch — some files copied,
    # some not — and atomically publish that inconsistency into dst),
    # but BEFORE the destination lock, so dst appends are held out only
    # for the two renames
    try:
        with partition_mutation_guard(src_path, f"date={partition}"):
            fs.copy_tree(src, tmp)
        with partition_mutation_guard(
            dst_path, f"date={partition}"
        ) as fence:
            dst = _partition_dir(dst_path, partition)
            old = _join(dst_path, f"_old-{partition}")
            fs.delete_dir(old)
            fence()
            if fs.exists(dst):
                fs.rename_no_replace(dst, old)
            fs.rename_no_replace(tmp, dst)
            fs.delete_dir(old)
    except BaseException:
        # best-effort orphan cleanup: tmp (if still present) was never
        # published, and src retains the data — nothing is lost
        try:
            fs.delete_dir(tmp)
        except Exception:
            pass
        raise


def detached_partitions(path: str) -> list[str]:
    """``system.detached_parts`` analogue."""
    fs = _fsm.get_fs(path)
    det = _join(path, "_detached")
    if not fs.exists(det):
        return []
    return sorted(
        n.split("=", 1)[1]
        for n in fs.list_names(det)
        if n.startswith("date=") and fs.is_dir(_join(det, n))
    )


# ---------------------------------------------------------------------------
# BACKUP / RESTORE (ClickHouse BACKUP TABLE ... / RESTORE TABLE ...)
# ---------------------------------------------------------------------------

def backup_table(
    path: str, backup_dir: str, *, base_backup: str | None = None
) -> dict:
    """``BACKUP TABLE ... TO`` with ClickHouse's incremental semantics:
    copy the table's partition files into ``backup_dir`` and write a
    ``_manifest.json`` recording every file's relative path, size, and
    md5. With ``base_backup``, files already present in the base's
    manifest (same path+size+md5) are NOT copied again — the manifest
    still lists them, pointing at the base (incremental backup chain).

    Driver-side file copy: backups are an ops action, not a query; at
    warehouse scale the same layout maps to object-store copy jobs
    (the md5 pass streams each file through the driver once — the
    integrity price this manifest format pays by design).
    Returns the manifest dict."""
    import hashlib
    import json

    _same_store(path, backup_dir, "backup_table")
    if base_backup is not None:
        _same_store(backup_dir, base_backup, "backup_table")
    fs = _fsm.get_fs(path)
    root = fs.canonical(path)  # slicing base must match walk spelling
    fs.mkdirs(backup_dir)
    base_entries: dict[str, dict] = {}
    if base_backup is not None:
        base_entries = {
            e["path"]: e
            for e in fs.read_json(_join(base_backup, "_manifest.json"))[
                "files"
            ]
        }

    files = []
    for f in fs.glob_parquet(root):
        rel = f[len(root) :].lstrip("/")
        md5 = hashlib.md5(fs.read_bytes(f)).hexdigest()
        entry = {"path": rel, "size": fs.file_size(f), "md5": md5}
        base = base_entries.get(rel)
        if base and base["size"] == entry["size"] and base["md5"] == md5:
            entry["in_base"] = True
        else:
            dst = _join(backup_dir, rel)
            fs.mkdirs(_fsm.parent(dst))
            fs.copy_file(f, dst)
        files.append(entry)
    manifest = {
        "source": root,
        "base_backup": base_backup,
        "n_files": len(files),
        "files": files,
    }
    fs.write_text_atomic(
        _join(backup_dir, "_manifest.json"), json.dumps(manifest, indent=1)
    )
    return manifest


def restore_table(backup_dir: str, dest_path: str) -> int:
    """``RESTORE TABLE ... FROM``: rebuild the table from a backup
    (following the incremental chain for files stored in a base), then
    VERIFY every restored file's size+md5 against the manifest —
    a corrupt or truncated backup refuses to restore silently.
    Returns the number of files restored."""
    import hashlib

    _same_store(backup_dir, dest_path, "restore_table")
    fs = _fsm.get_fs(backup_dir)
    manifest = fs.read_json(_join(backup_dir, "_manifest.json"))
    fs.mkdirs(dest_path)
    base = manifest["base_backup"]
    n = 0
    for e in manifest["files"]:
        src = _join(base if e.get("in_base") else backup_dir, e["path"])
        if not fs.exists(src):
            raise FileNotFoundError(
                f"backup missing {e['path']} "
                f"({'base' if e.get('in_base') else 'backup'} layer)"
            )
        out = _join(dest_path, e["path"])
        fs.mkdirs(_fsm.parent(out))
        fs.copy_file(src, out)
        if fs.file_size(out) != e["size"] or (
            hashlib.md5(fs.read_bytes(out)).hexdigest() != e["md5"]
        ):
            raise ValueError(f"checksum mismatch restoring {e['path']}")
        n += 1
    return n


def clear_column_in_partition(
    spark: SparkSession,
    path: str,
    partition: str,
    column: str,
    default_sql: str = "NULL",
) -> None:
    """ClickHouse ``ALTER TABLE ... CLEAR COLUMN col IN PARTITION``:
    rewrite ONE date partition with ``column`` reset to its default
    expression (``default_sql``, evaluated per row, cast to the
    column's type). Rows, keys, and every other column are preserved —
    this reclaims space / redacts a column for cold data without
    dropping rows (vs ``delete_where``) or partitions (vs
    ``apply_retention``)."""
    d = partition.split("=", 1)[1] if "=" in partition else partition
    with partition_mutation_guard(path, f"date={d}") as fence:
        df = spark.read.parquet(path)
        if column not in df.columns:
            raise ValueError(f"no column {column!r} in {path}")
        sub = df.filter(F.col("date") == F.lit(d))
        cleared = sub.withColumn(
            column, F.expr(default_sql).cast(dict(sub.dtypes)[column])
        ).localCheckpoint(eager=True)  # never delete inputs under a lazy read
        fence()
        _rewrite_by_date(cleared, path, _flow_key(cleared))


def apply_column_ttl(
    spark: SparkSession,
    path: str,
    column: str,
    keep_days: int,
    default_sql: str = "NULL",
    today: date | None = None,
) -> list[str]:
    """ClickHouse column TTL (``col TYPE ... TTL date + INTERVAL n
    DAY``): partitions older than the cutoff are rewritten with
    ``column`` reset to its default, keeping the rows — the
    middle ground between full retention and whole-partition drops
    (reference pattern: keep 90 days of flows but only 7 days of the
    heavy ``flags`` JSON).

    Idempotent and incremental like ClickHouse's per-part TTL info: a
    ``_column_ttl_<col>`` marker is written into each rewritten
    partition directory, so re-runs skip already-expired partitions
    (each partition is rewritten exactly once per column TTL).
    Returns the partitions rewritten this call.
    """
    cutoff = (today or date.today()) - timedelta(days=keep_days)
    fs = _fsm.get_fs(path, spark)
    done: list[str] = []
    for name in _list_date_partitions(fs, path):
        try:
            part_date = date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            continue
        marker = _join(path, name, f"_column_ttl_{column}")
        if part_date >= cutoff or fs.exists(marker):
            continue
        clear_column_in_partition(spark, path, name, column, default_sql)
        fs.write_bytes_atomic(marker, b"")
        done.append(name)
    return done


def column_stats(path: str) -> list[dict]:
    """Per-column storage statistics — the ClickHouse ``system.columns``
    / ``system.parts_columns`` observability analogue: for every column,
    its physical type, compressed and uncompressed byte totals,
    value/null counts, and whether every row-group carries min/max
    statistics (the data-skipping readiness signal the skip-index and
    z-order tooling rely on).

    Footer-only like ``table_stats`` (no data IO); per-column sizes come
    from the parquet column-chunk metadata, so "which column is eating
    the table" (ClickHouse's first compression question) is answerable
    without a scan. Glob covers flat tables AND date-partitioned ones.
    """
    import pyarrow.parquet as pq

    fs = _fsm.get_fs(path)
    files = fs.glob_parquet(path) if fs.is_dir(path) else [str(path)]
    acc: dict[str, dict] = {}
    for f in files:
        with fs.open_seekable(f) as fh:
            md = pq.read_metadata(fh)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                st = acc.setdefault(
                    name,
                    {
                        "column": name,
                        "physical_type": c.physical_type,
                        "compressed_bytes": 0,
                        "uncompressed_bytes": 0,
                        "n_values": 0,
                        "n_nulls": 0,
                        "has_minmax_stats": True,
                        "compression": c.compression,
                    },
                )
                st["compressed_bytes"] += c.total_compressed_size
                st["uncompressed_bytes"] += c.total_uncompressed_size
                stats = c.statistics
                if stats is None or not stats.has_min_max:
                    st["has_minmax_stats"] = False
                if stats is not None:
                    st["n_nulls"] += stats.null_count or 0
                st["n_values"] += g.num_rows
    return sorted(acc.values(), key=lambda d: -d["compressed_bytes"])
