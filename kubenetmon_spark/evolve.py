"""Schema evolution for parquet tables: ClickHouse's metadata-only
``ALTER TABLE ADD / DROP / RENAME / MODIFY COLUMN`` family.

ClickHouse ALTERs of this family change only table metadata — existing
parts are NOT rewritten; reads materialize the declared schema on the
fly (a part missing an added column serves its DEFAULT; a dropped
column's bytes linger until a merge rewrites the part). The reference
evolves its flow table exactly this way across releases (reference
migrations/ adds columns to network_flows with defaults and relies on
merges to materialize).

The Spark translation keeps the same two-phase contract:

1. **DDL is metadata-only and instant** (:func:`add_column`,
   :func:`drop_column`, :func:`rename_column`, :func:`modify_column`):
   each appends one op to a ``_schema_log.json`` sidecar at the table
   root (underscore-prefixed, so parquet scans never see it). No data
   file is touched — ALTER on a 100 TB table costs one tiny file write,
   exactly like ClickHouse.
2. **Reads apply the log lazily** (:func:`read_evolved`): one
   ``mergeSchema`` read unions every file's physical schema, then the
   ops replay IN ORDER as narrow projections — added columns backfill
   their DEFAULT where files predate the ALTER, renames unify old-name
   and new-name files, MODIFY casts, DROP hides bytes still on disk.
   All pure column expressions: zero shuffle, zero Python, and Catalyst
   prunes/pushes through them.
3. **Materialization is the merge** (:func:`materialize_schema`):
   rewrite the files through the evolved projection and truncate the
   log — after it, plain reads see the evolved schema with no sidecar
   needed. Run it from compaction, exactly when ClickHouse's merges
   would rewrite parts.

Default semantics: an added column's ``default`` is a deterministic SQL
expression (literal or expression over OTHER columns, like ClickHouse
DEFAULT clauses). Rows from files that predate the ADD read the
default via ``coalesce`` — which means an explicit NULL written
after the ADD also reads as the default; declare ``default=None``
(nullable, no backfill) when NULL must be storable, the same choice
ClickHouse forces between ``x T DEFAULT d`` and ``x Nullable(T)``.

Validation happens at ALTER time (the ClickHouse contract — a bad
ALTER fails at the statement): the sidecar tracks the logical column
list through the log (base derived once from the newest file's footer
+ partition dirs, no SparkSession needed), so DROP/RENAME/MODIFY of a
missing column, ADD of a live column, and RENAME onto a live column
are refused immediately. Reusing a RETIRED name — one dropped or
renamed-away while its bytes still sit in old files — is refused until
:func:`materialize_schema` clears the residue, because stale physical
bytes under a reused name would be indistinguishable from the new
logical column at read time. ALTERs on one table are serialized by an
exclusive-create lockfile (concurrent unserialized ALTERs would lose
an op). The lockfile lives NEXT TO the table root, not inside it, so
:func:`materialize_schema`'s full-table overwrite cannot delete a held
lock mid-operation; materialization itself runs under the same lock
for its entire duration, so an ALTER can never slip between its log
read and its log truncation and be silently erased.

All sidecar/lock file I/O goes through :mod:`kubenetmon_spark.fs`, so
tables on ``hdfs://`` / ``s3a://`` roots evolve the same way local
ones do (URI paths need an active SparkSession for the footer read
and the sidecar I/O).

At 100 TB: ``mergeSchema`` reads every file footer — fine for the
evolved-read path (footers are the index ClickHouse also reads), but
hot dashboards should run against materialized tables; the log is the
bridge between an instant ALTER and the eventual rewrite, not a
permanent tax.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubenetmon_spark import fs as _fsm

_LOG_NAME = "_schema_log.json"


def _log_path(path: str) -> str:
    return _fsm.join(path, _LOG_NAME)


def _lock_path(path: str) -> str:
    """The DDL lockfile is a SIBLING of the table root (``<root>._ddl.
    lock``), never inside it: materialize_schema overwrites the root
    wholesale, and a lock living inside would be deleted while held."""
    p = str(path).rstrip("/")
    return p + "._ddl.lock"


def schema_log(path: str) -> list[dict]:
    """The ordered ALTER ops recorded for the table (empty if none)."""
    fs = _fsm.get_fs(path)
    p = _log_path(path)
    if not fs.is_file(p):
        return []
    return fs.read_json(p)["ops"]


def _read_log(path: str) -> dict:
    fs = _fsm.get_fs(path)
    p = _log_path(path)
    if not fs.is_file(p):
        return {"version": 1, "ops": [], "columns": None, "retired": []}
    d = fs.read_json(p)
    d.setdefault("columns", None)
    d.setdefault("retired", [])
    return d


def _write_log(path: str, log: dict) -> None:
    # Atomic publish (rename-replace locally, single PUT on object
    # stores): a concurrent read_evolved must never observe a
    # truncated sidecar mid-write.
    _fsm.get_fs(path).write_json_atomic(_log_path(path), log)


# Lease parameters for stores without atomic exclusive create.
# The protocol never compares another machine's clock with ours:
# takeover requires the SAME lease bytes observed unchanged for a full
# GRACE window on the contender's own monotonic clock — a live holder
# defeats every observation window by heartbeating (re-stamping the
# lease) far more often than that. settle is how long a PUT is given
# to become the winner before the read-back-verify; S3 is
# read-after-write consistent, so the residual unsafety is two PUTs
# landing within one settle window AND reordering between the two
# confirmation reads.
_LEASE_TTL_S = 60.0        # written into the lease (informational)
_LEASE_HEARTBEAT_S = 15.0  # holder re-stamps the lease this often
_LEASE_GRACE_S = 60.0      # silence a contender must observe to take over
_LEASE_SETTLE_S = 0.15

# Two distinct non-answer sentinels — conflating them would let a
# throttled READ start the race-wreckage re-stake clock and overwrite a
# LIVE holder's lease:
# - _UNREADABLE: bytes were actually READ but don't parse (a PUT racing
#   the read, a truncated object, or a foreign/empty lockfile). Held by
#   unknown: never overwritten, never taken over — except by the
#   bounded re-stake of a driver that ALREADY staked in this acquire
#   (its own race's wreckage).
# - _UNAVAILABLE: the read request itself FAILED (S3 503, network) and
#   absence could not be confirmed. Held by unknown, and NEVER eligible
#   for re-stake — the bytes underneath may be a live verified lease.
# Both end contention in a loud TimeoutError if they persist.
_UNREADABLE = object()
_UNAVAILABLE = object()

# Error shapes that mean "confirmed absent" from the JVM adapters —
# HadoopFS surfaces a missing object as a py4j-wrapped java
# FileNotFoundException, never Python's FileNotFoundError, and paying
# an extra exists() RPC per poll on the COMMON (uncontended) path is
# waste.
_NOT_FOUND_MARKERS = (
    "FileNotFoundException",
    "NoSuchKey",
    "File does not exist",
    "No such file",
)


def _read_lease(fs, lock: str):
    """None = confirmed absent; a dict = the parsed lease;
    ``_UNREADABLE`` / ``_UNAVAILABLE`` = see the sentinel notes."""
    import posixpath as _pp

    try:
        raw = fs.read_bytes(lock)
    except FileNotFoundError:
        return None
    except Exception as exc:
        msg = str(exc)
        if any(m in msg for m in _NOT_FOUND_MARKERS):
            # A marker alone is not proof the LOCK is absent: an
            # unrelated error whose text merely mentions a missing file
            # (a credentials/config path inside a py4j traceback) would
            # otherwise read as "lease absent" and let a contender stake
            # over a live lease. Genuine not-found shapes from Hadoop/S3
            # name the object they failed on, so require the lock's own
            # name in the message for the RPC-free fast path; anything
            # else pays one exists() to confirm.
            if _pp.basename(lock.rstrip("/")) in msg:
                return None  # the store's own not-found shape, for US
            return _UNAVAILABLE if fs_exists_quiet(fs, lock) else None
        # could not CONFIRM absence (throttle, network): assume held
        return _UNAVAILABLE if fs_exists_quiet(fs, lock) else None
    import json as _json

    try:
        d = _json.loads(raw.decode("utf-8"))
    except Exception:
        return _UNREADABLE
    if not isinstance(d, dict) or "owner" not in d:
        return _UNREADABLE
    return d


def fs_exists_quiet(fs, path: str) -> bool:
    """exists() that maps its own errors to True (held-by-unknown is
    the conservative answer when the store can't be asked)."""
    try:
        return fs.exists(path)
    except Exception:
        return True


class _LeaseHold:
    """A held DDL lease: heartbeats while held, fences before writes.

    The heartbeat re-stamps ``acquired_unix`` every ``_LEASE_HEARTBEAT_S``
    — observers key on the BYTES changing, so a live holder is never
    taken over no matter how long the critical section runs (the
    materialize_schema overwrite can take minutes). Each beat
    read-verifies ownership first and STOPS (marking the hold lost)
    if the lease was taken over — it must never clobber a usurper."""

    def __init__(self, fs, lock: str, owner: str) -> None:
        import threading as _threading

        self._fs = fs
        self._lock_path = lock
        self.owner = owner
        self.lost = False
        self._stop = _threading.Event()
        self._thread = _threading.Thread(target=self._beat, daemon=True)
        self._thread.start()

    def _stamp(self) -> None:
        import time as _time

        self._fs.write_json_atomic(
            self._lock_path,
            {
                "owner": self.owner,
                "acquired_unix": _time.time(),
                "ttl_s": _LEASE_TTL_S,
            },
        )

    def _beat(self) -> None:
        import time as _time

        # Transient failures (throttled read, failed stamp PUT) retry on
        # the next tick — a single 503 must neither silently kill the
        # thread (frozen bytes would eventually read as a dead owner)
        # nor abort a minutes-long materialization via a spurious
        # `lost`. Only two things end the beat: VERIFIED foreign
        # ownership, or failing to confirm ownership for half the grace
        # window (past that, a contender may legitimately be close to
        # taking over, so we stop claiming the lease).
        unconfirmed_since: float | None = None
        while not self._stop.wait(_LEASE_HEARTBEAT_S):
            ok = False
            got = _read_lease(self._fs, self._lock_path)
            if isinstance(got, dict):
                if got.get("owner") == self.owner:
                    # Re-check stop immediately before the PUT: release()
                    # may have set it while we were reading, and a stamp
                    # landing after release()'s remove would resurrect an
                    # ownerless lease that contenders must wait out.
                    if self._stop.is_set():
                        return
                    try:
                        self._stamp()
                        ok = True
                    except Exception:
                        ok = False  # transient PUT failure — retry
                else:
                    self.lost = True  # verifiably taken over
                    return
            now = _time.monotonic()
            if ok:
                unconfirmed_since = None
            elif unconfirmed_since is None:
                unconfirmed_since = now
            elif now - unconfirmed_since >= _LEASE_GRACE_S / 2:
                self.lost = True
                return

    def fence(self) -> None:
        """Raise :class:`DdlLeaseLost` unless the lease is verifiably
        still ours — call immediately before publishing any write made
        under the lock."""
        got = _read_lease(self._fs, self._lock_path)
        if self.lost or not (
            isinstance(got, dict) and got.get("owner") == self.owner
        ):
            self.lost = True
            raise DdlLeaseLost(
                f"DDL lease on {self._lock_path} was taken over (this "
                "driver stalled past the takeover grace window) or is "
                "unreadable; the pending schema write was aborted — "
                "retry the ALTER"
            )

    def release(self) -> None:
        self._stop.set()
        self._thread.join(timeout=_LEASE_HEARTBEAT_S + 5)
        if self._thread.is_alive():
            # The beat thread is wedged (e.g. a _stamp PUT stuck in the
            # store client for >20s). Deleting now would race that PUT:
            # it could land AFTER our remove and resurrect an ownerless
            # lease contenders must wait a full grace window to reclaim.
            # Leave the lease in place — the wedged beat re-checks
            # _stop before every future PUT and exits, after which the
            # frozen bytes age out via the normal takeover protocol.
            return
        got = _read_lease(self._fs, self._lock_path)
        if isinstance(got, dict) and got.get("owner") == self.owner:
            try:
                self._fs.remove_file(self._lock_path)
            except FileNotFoundError:
                pass


def _acquire_lease(fs, lock: str, timeout_s: float) -> _LeaseHold:
    """Mutual exclusion on stores whose create() is check-then-create
    (S3A and friends — fs.supports_atomic_create is False).

    Stake: uuid-stamped last-writer-wins PUT, then two read-backs
    (settle delay between) — proceed only if both show our uuid; a
    racing driver's PUT either lands before our reads (we back off) or
    after both (they verify and win, we see them next loop).

    Takeover: NO wall-clock expiry comparison (cross-machine clock skew
    would let a fast clock steal a live lease). A contender takes over
    only after observing the same lease bytes for ``_LEASE_GRACE_S`` of
    its OWN monotonic time — a dead holder's lease never changes, a
    live one heartbeats every ``_LEASE_HEARTBEAT_S``. With the default
    5 s acquire timeout a dead lease therefore fails LOUD rather than
    being silently claimed; pass a timeout > grace to wait out a dead
    owner, or remove the lease file manually.

    Unreadable lease files (truncated PUT, foreign/empty lockfile from
    a mixed-addressing deployment) are held-by-unknown: never
    overwritten, never taken over — loud timeout."""
    import time as _time
    import uuid as _uuid

    me = _uuid.uuid4().hex
    deadline = _time.monotonic() + timeout_s
    observed: tuple[tuple, float] | None = None  # (content key, t_mono)
    staked = False
    unreadable_since: float | None = None
    # Per-driver deterministic jitter (from our own uuid) desynchronizes
    # re-stake attempts: on a store whose overwrite is NOT one atomic
    # PUT, two racers whose synchronized re-stakes keep corrupting each
    # other would otherwise livelock to a double timeout.
    jitter = int(me[:4], 16) / 0xFFFF * 3 * _LEASE_SETTLE_S

    def _verify() -> bool:
        """Settle, then double read-back: ownership counts only when two
        spaced reads BOTH show our uuid — a racing driver's slow PUT
        either lands before our reads (we back off) or after both (they
        run their own verify and win; we see them next loop)."""
        _time.sleep(_LEASE_SETTLE_S)
        got = _read_lease(fs, lock)
        if not (isinstance(got, dict) and got.get("owner") == me):
            return False
        _time.sleep(_LEASE_SETTLE_S)
        got2 = _read_lease(fs, lock)
        return isinstance(got2, dict) and got2.get("owner") == me

    while True:
        cur = _read_lease(fs, lock)
        if cur is not _UNREADABLE:
            unreadable_since = None
        if cur is None:
            stake = True
        elif cur is _UNAVAILABLE:
            # the read itself failed — the bytes may be a LIVE verified
            # lease, so this never counts toward re-stake eligibility
            observed = None
            stake = False
        elif cur is _UNREADABLE:
            observed = None
            now_m = _time.monotonic()
            if unreadable_since is None:
                unreadable_since = now_m
            # Re-stake ONLY if we already staked in THIS acquire and
            # ACTUALLY-READ bytes have stayed unparseable for a
            # settle-scale window: on stores whose overwrite is not one
            # atomic PUT (Hadoop's RawLocalFileSystem truncates then
            # streams), two racing stakes can interleave into
            # permanently-unparseable bytes — wreckage of OUR race,
            # safe to overwrite; every other stake may legally
            # overwrite an in-flight PUT anyway (last-writer-wins), and
            # the read-back picks one winner. A foreign unreadable
            # lease that PREDATES our acquire is never overwritten
            # (staked is False) — loud timeout.
            stake = staked and (
                now_m - unreadable_since >= 4 * _LEASE_SETTLE_S + jitter
            )
        else:
            if cur.get("owner") == me:
                # our earlier PUT landed after all (a read-back racing a
                # concurrent create-truncate can misread and make us
                # "lose" our own stake) — but a slow foreign PUT may
                # still be in flight, so this grants NOTHING by itself:
                # it funnels into the same double-read-back verify as a
                # fresh stake.
                if _verify():
                    return _LeaseHold(fs, lock, me)
                observed = None
                stake = False
            else:
                key = (cur.get("owner"), cur.get("acquired_unix"))
                now_m = _time.monotonic()
                if observed is None or observed[0] != key:
                    observed = (key, now_m)
                stake = now_m - observed[1] >= _LEASE_GRACE_S
        if stake:
            staked = True
            unreadable_since = None
            fs.write_json_atomic(
                lock,
                {
                    "owner": me,
                    "acquired_unix": _time.time(),
                    "ttl_s": _LEASE_TTL_S,
                },
            )
            if _verify():
                return _LeaseHold(fs, lock, me)
            observed = None  # lost the race — contend
        if _time.monotonic() > deadline:
            raise TimeoutError(
                f"schema DDL lease contention: {lock} is held, unreadable, "
                "or being fought over; retry (with timeout > "
                f"{_LEASE_GRACE_S:.0f}s to wait out a dead owner), or "
                "remove the lease file if its owner is known dead"
            )
        _time.sleep(0.1)


class DdlLeaseLost(RuntimeError):
    """The DDL lease was taken over mid-critical-section (this driver
    stalled past the TTL and another driver claimed the table). The
    pending write was NOT published; retry the ALTER."""


@contextmanager
def exclusive_lock(lock: str, timeout_s: float = 5.0, what: str = "lock"):
    """Generic cross-driver mutual exclusion on an explicit lock-file
    path — the DDL lock's machinery, reusable by other critical
    sections (the storage lifecycle's partition mutation guard in
    sink.py). Two regimes, chosen by what the
    store can actually guarantee (fs.supports_atomic_create):

    - atomic-create stores (local disk, HDFS): exclusive-create
      lockfile — a true compare-and-set.
    - object stores (S3A/GS/ABFS/...): uuid-stamped lease with
      read-back-verify, a heartbeat while held, and observed-silence
      takeover (_acquire_lease) — never a
      bare create_exclusive, whose check-then-create there would let
      two drivers both "win" and silently lose an op.

    Yields a zero-arg ``fence()`` callable: call it immediately before
    publishing a write made under the lock. On the lease branch it
    re-reads the lease and raises :class:`DdlLeaseLost` if ownership
    moved (a grace-window takeover while this driver stalled) — narrowing the
    takeover-overwrite window from the whole critical section to one
    read-to-write gap. On the atomic branch it is a no-op (the
    lockfile cannot be taken over)."""
    import time as _time

    fs = _fsm.get_fs(lock)
    if not fs.supports_atomic_create(lock):
        hold = _acquire_lease(fs, lock, timeout_s)
        try:
            yield hold.fence
        finally:
            hold.release()
        return
    deadline = _time.monotonic() + timeout_s
    while True:
        try:
            fs.create_exclusive(lock)
            break
        except FileExistsError:
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"{what} held too long: {lock} (stale? remove it)"
                )
            _time.sleep(0.05)
    try:
        yield lambda: None
    finally:
        fs.remove_file(lock)


@contextmanager
def _ddl_lock(path: str, timeout_s: float = 5.0):
    """Serialize ALTERs on one table: the sidecar update is
    read-modify-write, and two unserialized concurrent ALTERs would
    silently drop one op (last writer wins). ClickHouse serializes
    ALTERs the same way (server-side). Thin wrapper binding
    :func:`exclusive_lock` to the table's DDL lockfile."""
    with exclusive_lock(
        _lock_path(path), timeout_s=timeout_s, what="schema DDL lock"
    ) as fence:
        yield fence


def _physical_base_columns(path: str) -> list[str]:
    """Logical columns of a not-yet-altered table: the newest data
    file's parquet schema (footer only, via pyarrow) plus any
    ``key=value`` partition-directory columns. Assumes the pre-log
    table is schema-homogeneous — the state every table written by one
    job is in; mixed-generation tables only arise THROUGH this log.
    For URI-form roots the newest file's bytes are fetched through the
    Hadoop FS (one small object read)."""
    import pyarrow.parquet as pq

    fs = _fsm.get_fs(path)
    root = fs.canonical(path)  # slicing base must match walk spelling
    files = sorted(
        (
            (full, mtime)
            for full, _size, mtime in fs.walk_files(root)
            if full.endswith(".parquet")
            and not any(
                _fsm._is_hidden_segment(seg)
                for seg in full[len(root) :].lstrip("/").split("/")
            )
        ),
        key=lambda t: (t[1], t[0]),
    )
    if not files:
        raise ValueError(f"no parquet files under {path}; write data first")
    newest = files[-1][0]
    # footer-only read through the seekable adapter: only the sought
    # byte ranges transfer on remote stores, never the file body
    with fs.open_seekable(newest) as fh:
        schema = pq.read_schema(fh)
    cols = list(schema.names)
    for full, _mt in files:
        for seg in full[len(root) :].lstrip("/").split("/")[:-1]:
            if "=" in seg:
                part = seg.split("=", 1)[0]
                if part not in cols:
                    cols.append(part)
    return cols


def _validated(log: dict, path: str, op: dict) -> dict:
    """ALTER-time validation (the ClickHouse contract: bad ALTERs fail
    at the statement). Tracks the logical column list through the log,
    plus the RETIRED set — physical names dropped or renamed-away whose
    bytes still sit in old files. Reusing a retired name would make the
    stale bytes indistinguishable from the new logical column at read
    time (silent data corruption), so it is refused until
    :func:`materialize_schema` clears the residue."""
    cols = log["columns"]
    if cols is None:
        cols = _physical_base_columns(path)
    retired = set(log["retired"])
    kind = op["op"]
    if kind == "add":
        col = op["col"]
        if col in cols:
            raise ValueError(f"ADD COLUMN {col!r}: column already exists")
        if col in retired:
            raise ValueError(
                f"ADD COLUMN {col!r}: a dropped/renamed-away column of "
                "this name still has bytes in old files; run "
                "materialize_schema first"
            )
        cols = cols + [col]
    elif kind == "drop":
        col = op["col"]
        if col not in cols:
            raise ValueError(f"DROP COLUMN {col!r}: no such column (have {cols})")
        cols = [c for c in cols if c != col]
        retired.add(col)
    elif kind == "rename":
        old, new = op["old"], op["new"]
        if old not in cols:
            raise ValueError(f"RENAME COLUMN {old!r}: no such column (have {cols})")
        if new in cols:
            raise ValueError(
                f"RENAME COLUMN {old!r} -> {new!r}: target column exists "
                "(renaming onto a live column would silently merge them)"
            )
        if new in retired:
            raise ValueError(
                f"RENAME COLUMN {old!r} -> {new!r}: a dropped/renamed-away "
                f"column named {new!r} still has bytes in old files; run "
                "materialize_schema first"
            )
        cols = [new if c == old else c for c in cols]
        retired.add(old)
        retired.discard(new)  # new name is live again from this point
    elif kind == "modify":
        if op["col"] not in cols:
            raise ValueError(
                f"MODIFY COLUMN {op['col']!r}: no such column (have {cols})"
            )
    else:  # pragma: no cover - internal
        raise ValueError(f"unknown schema op {kind!r}")
    return {
        "version": 1,
        "ops": log["ops"] + [op],
        "columns": cols,
        "retired": sorted(retired),
    }


def _append_op(path: str, op: dict, lock_timeout_s: float = 5.0) -> None:
    with _ddl_lock(path, timeout_s=lock_timeout_s) as fence:
        new_log = _validated(_read_log(path), path, op)
        fence()  # lease still ours after the read-modify work
        _write_log(path, new_log)


def add_column(
    path: str,
    column: str,
    dtype: str,
    default: str | None = None,
    lock_timeout_s: float = 5.0,
) -> None:
    """``ALTER TABLE ADD COLUMN column dtype [DEFAULT default]``.

    ``default`` is a SQL expression string evaluated per row at read
    (cast to ``dtype``); ``None`` means nullable-without-backfill.
    Metadata cost only: one footer read (first ALTER) + the sidecar.
    Refused if the name is live, or retired-with-residue (a previously
    dropped/renamed-away column of the same name still has bytes in old
    files — materialize first; reusing the name would resurrect them).

    Cast caveat (same as MODIFY's "widen, don't narrow"): post-ALTER
    files carry real values which are cast to ``dtype`` on read. Under
    this engine's default sessions (Spark 4, ANSI ON) a value the cast
    cannot represent FAILS THE READ loudly (CAST_OVERFLOW and kin) —
    one bad value bricks the table until fixed or widened. Only under
    an ANSI-off session does the legacy caveat apply: the failed cast
    yields NULL, and a declared DEFAULT then masks the bad value via
    coalesce. Either way: write the column as ``dtype`` (or wider)
    from the start.
    """
    _append_op(
        path,
        {"op": "add", "col": column, "dtype": dtype, "default": default},
        lock_timeout_s,
    )


def drop_column(path: str, column: str, lock_timeout_s: float = 5.0) -> None:
    """``ALTER TABLE DROP COLUMN`` — hides the column immediately; the
    bytes on disk go away at the next :func:`materialize_schema`."""
    _append_op(path, {"op": "drop", "col": column}, lock_timeout_s)


def rename_column(
    path: str, old: str, new: str, lock_timeout_s: float = 5.0
) -> None:
    """``ALTER TABLE RENAME COLUMN old TO new`` — files written before
    the rename keep the old physical name; reads unify both. Renaming
    onto a live column is refused (ClickHouse behavior — it would
    silently merge two columns), as is reusing a retired name whose
    bytes still linger (materialize first)."""
    _append_op(path, {"op": "rename", "old": old, "new": new}, lock_timeout_s)


def modify_column(
    path: str, column: str, dtype: str, lock_timeout_s: float = 5.0
) -> None:
    """``ALTER TABLE MODIFY COLUMN column dtype`` — cast-on-read until
    materialized. Under ANSI (this engine's default) a value the cast
    cannot represent fails the read loudly; under ANSI-off it silently
    reads NULL. Widen, don't narrow, on live tables either way.

    ``lock_timeout_s`` (also on add/drop/rename): the DDL-lock wait.
    On object stores, reclaiming a CRASHED driver's lease requires
    observing a full takeover-grace window of silence — pass a value
    > 60s there (the lease-contention error says so too)."""
    _append_op(path, {"op": "modify", "col": column, "dtype": dtype}, lock_timeout_s)


def _apply_ops(df: DataFrame, ops: list[dict]) -> DataFrame:
    for op in ops:
        kind = op["op"]
        if kind == "add":
            col, dtype, default = op["col"], op["dtype"], op["default"]
            if default is None:
                filler = F.lit(None).cast(dtype)
            else:
                filler = F.expr(default).cast(dtype)
            if col in df.columns:
                # files written after the ALTER carry real values; files
                # before it surface NULL under mergeSchema -> default
                value = F.coalesce(F.col(col).cast(dtype), filler)
            else:
                value = filler
            df = df.withColumn(col, value)
        elif kind == "drop":
            if op["col"] not in df.columns:
                raise ValueError(
                    f"DROP COLUMN {op['col']!r}: no such column "
                    f"(have {df.columns})"
                )
            df = df.drop(op["col"])
        elif kind == "rename":
            old, new = op["old"], op["new"]
            if old in df.columns and new in df.columns:
                # both physical generations present: unify
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
            elif new in df.columns:
                pass  # every file postdates the rename
            else:
                raise ValueError(
                    f"RENAME COLUMN {old!r}: no such column (have {df.columns})"
                )
        elif kind == "modify":
            if op["col"] not in df.columns:
                raise ValueError(
                    f"MODIFY COLUMN {op['col']!r}: no such column "
                    f"(have {df.columns})"
                )
            df = df.withColumn(op["col"], F.col(op["col"]).cast(op["dtype"]))
        else:
            raise ValueError(f"unknown schema op {kind!r}")
    return df


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read the table with every recorded ALTER applied, in order.

    One ``mergeSchema`` parquet read + pure column projections — the
    op replay adds no shuffle and no Python, and filters/pruning push
    through it. Equivalent to a plain read when the log is empty.

    Safe against a concurrent :func:`materialize_schema`: if the log
    was read just before a materialization truncated it, the op replay
    fails plan-side (the rewritten files no longer carry dropped/old
    columns) — caught here, the log is re-read once and the plan
    rebuilt against the new (empty) log."""
    ops = schema_log(path)
    for attempt in (0, 1):
        reader = spark.read
        if ops:
            reader = reader.option("mergeSchema", "true")
        try:
            return _apply_ops(reader.parquet(path), ops)
        except ValueError:
            fresh = schema_log(path)
            if attempt == 0 and fresh != ops:
                ops = fresh  # materialize_schema won the race; replay anew
                continue
            raise


def materialize_schema(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    lock_timeout_s: float = 5.0,
) -> int:
    """Fold the schema log into the data files (the merge that
    ClickHouse would eventually run): rewrite the table through the
    evolved projection, then truncate the log. Plain reads afterwards
    see the evolved schema directly. Returns the number of ops folded.

    Idempotent: with an empty log this is a no-op. ``partition_by``
    re-establishes the table's partition layout (pass the same columns
    the writers use).

    Runs under the table's DDL lock for its FULL duration (read ops,
    rewrite, truncate): an ALTER committed between the log read and the
    truncating write would otherwise be silently erased — never applied
    to data, no error surfaced. Concurrent ALTERs during a long
    materialization therefore time out loudly instead (raise
    ``lock_timeout_s`` on huge tables if DDL-during-merge contention is
    expected). The lockfile lives outside the table root, so the
    overwrite cannot delete it while held."""
    with _ddl_lock(path, timeout_s=lock_timeout_s) as fence:
        ops = schema_log(path)
        if not ops:
            return 0
        # Materialize before overwriting the path being read
        # (compact()'s read-then-overwrite idiom).
        evolved = _apply_ops(
            spark.read.option("mergeSchema", "true").parquet(path), ops
        ).localCheckpoint(eager=True)
        # The checkpoint can take minutes on a big table — long enough
        # to stall past a lease TTL. Fence before the destructive
        # overwrite AND again before the log truncate: a driver whose
        # lease was taken over must not clobber the new owner's table
        # state or erase an ALTER the new owner committed meanwhile.
        fence()
        writer = evolved.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        # files now carry the evolved schema: empty log, no retired
        # residue, logical columns re-derive from footers at next ALTER
        fence()
        _write_log(
            path, {"version": 1, "ops": [], "columns": None, "retired": []}
        )
        return len(ops)
