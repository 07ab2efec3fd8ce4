"""Query result cache — the ClickHouse query-cache analogue
(``use_query_cache``/``query_cache_ttl`` settings surface).

ClickHouse serves repeated dashboard panels from an in-server result
cache keyed on the query AST, invalidated by TTL, refusing
nondeterministic queries. The Spark-engine equivalent here is a
parquet-backed result store keyed on

    (optimized-logical-plan hash) x (input-file signature)

— the plan hash (querylog.py's fingerprint idiom) identifies WHAT is
being computed; the input signature (every input file's path, size,
mtime, hashed) identifies the DATA VERSION, so an append/compaction to
the underlying table invalidates automatically, with no invalidation
hooks in the write path. Entries are written atomically (tmp dir +
rename-without-replace through the FS adapter) so concurrent dashboard
sessions can share one cache directory — including a cache directory
on hdfs://s3a:// (rename loser = lost the publish race, same
semantics on every store). For non-local INPUT files the signature
uses the path set alone: Spark writers never rewrite a file in place
(new UUID part names per write), so any data change changes the set.

Like ClickHouse, nondeterministic queries are refused by default: a
cached ``now()``/``rand()`` result is a silent wrong answer, the worst
failure mode a cache can have.

Scale posture: the cache stores RESULT rows (panel-sized, thousands of
rows), never fact data; the hit path is one small parquet read. The
input signature is a driver-side listing of the pruned relation's
files — O(parts), the same cost as guards.py's pre-flight.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from kubenetmon_spark import fs as _fsm
from kubenetmon_spark.fs import join as _join

#: substrings of Spark's nondeterministic/volatile expressions as they
#: appear in optimized-plan strings — the refusal heuristic (ClickHouse
#: refuses caching queries with now()/rand() the same way)
_NONDETERMINISTIC_MARKERS = (
    "rand(",
    "randn(",
    "uuid()",
    "current_timestamp",
    "current_date",
    "now()",
    "unix_timestamp()",
    "monotonically_increasing_id",
    "shuffle(",
    "input_file_name",
)


class NondeterministicQueryError(ValueError):
    """The plan contains a volatile expression; caching it would pin a
    value that should change between executions."""


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _key_of(df: DataFrame, plan: str) -> str:
    h = hashlib.md5(plan.encode())
    for f in sorted(df.inputFiles()):
        local = f.removeprefix("file:")
        try:
            st = os.stat(local)
            sig = f"{f}|{st.st_size}|{st.st_mtime_ns}"
        except OSError:  # non-local FS: path alone (size/mtime unseen)
            sig = f
        h.update(sig.encode())
    return h.hexdigest()


def cached(
    spark: SparkSession,
    df: DataFrame,
    cache_dir: str,
    ttl_s: float | None = None,
    refresh: bool = False,
    allow_nondeterministic: bool = False,
) -> DataFrame:
    """Serve ``df``'s result from the cache, computing and storing it on
    a miss. ``ttl_s`` bounds entry age (ClickHouse query_cache_ttl);
    ``refresh`` forces recompute (``SYSTEM DROP QUERY CACHE`` for one
    entry). The returned DataFrame always reads from the cache entry,
    so repeated dashboard refreshes cost one small parquet scan."""
    plan = _plan_string(df)
    if not allow_nondeterministic:
        low = plan.lower()
        for marker in _NONDETERMINISTIC_MARKERS:
            if marker in low:
                raise NondeterministicQueryError(
                    f"plan contains volatile expression {marker!r}; pass "
                    "allow_nondeterministic=True to cache it anyway"
                )
    key = _key_of(df, plan)
    fs = _fsm.get_fs(cache_dir, spark)
    entry = _join(cache_dir, key)
    meta = _join(entry, "_meta.json")

    if fs.exists(entry) and fs.exists(meta) and not refresh:
        age = time.time() - fs.read_json(meta)["created_at"]
        if ttl_s is None or age <= ttl_s:
            return spark.read.parquet(_join(entry, "data"))

    # miss/stale/refresh: compute into a tmp entry, publish by rename.
    # A concurrent publisher winning the rename race is fine — both
    # wrote the same deterministic result; the loser just reads theirs.
    tmp = _join(cache_dir, f"_tmp-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(_join(tmp, "data"))
    fs.write_json_atomic(
        _join(tmp, "_meta.json"),
        {
            "created_at": time.time(),
            "plan_hash": hashlib.md5(plan.encode()).hexdigest()[:16],
            "plan_head": plan.splitlines()[0][:200] if plan else "",
        },
    )
    if fs.exists(entry):  # stale/refresh: replace wholesale
        fs.delete_dir(entry)
    try:
        fs.rename_no_replace(tmp, entry)
    except (OSError, FileExistsError):
        if fs.exists(_join(entry, "data")):
            # lost the publish race to a real winner: serve theirs
            fs.delete_dir(tmp)
        else:
            # rename failed with NO winner present (rename-less or
            # degraded store): serve this computation's own tmp entry —
            # correct result, just unshared; drop_cache sweeps the
            # underscore debris
            return spark.read.parquet(_join(tmp, "data"))
    return spark.read.parquet(_join(entry, "data"))


def drop_cache(cache_dir: str, key: str | None = None) -> int:
    """``SYSTEM DROP QUERY CACHE``: remove one entry or all. Returns the
    number of entries removed."""
    fs = _fsm.get_fs(cache_dir)
    if not fs.exists(cache_dir):
        return 0
    targets = []
    debris = []
    for name in fs.list_names(cache_dir):
        t = _join(cache_dir, name)
        if not fs.is_dir(t):
            continue
        # _tmp-* dirs are unpublished computations (lost races /
        # rename-less stores) — swept on EVERY drop (keyed or not),
        # never counted as entries; otherwise a keyed-drop-only
        # operator accumulates orphaned tmp dirs without bound
        if name.startswith(("_", ".")):
            debris.append(t)
        elif key is None or name == key:
            targets.append(t)
    n = 0
    for t in targets:
        if fs.exists(t):
            fs.delete_dir(t)
            n += 1
    for t in debris:
        fs.delete_dir(t)
    return n


def cache_entries(cache_dir: str) -> list[dict]:
    """``system.query_cache`` analogue: one dict per entry with key,
    age, result size on disk."""
    fs = _fsm.get_fs(cache_dir)
    out: list[dict] = []
    if not fs.exists(cache_dir):
        return out
    now = time.time()
    for name in fs.list_names(cache_dir):
        if name.startswith(("_", ".")):
            continue  # _tmp-* debris is not a published entry
        d = _join(cache_dir, name)
        m = _join(d, "_meta.json")
        if not fs.is_dir(d) or not fs.exists(m):
            continue
        meta = fs.read_json(m)
        size = sum(s for _f, s, _m in fs.walk_files(_join(d, "data")))
        out.append(
            {
                "key": name,
                "age_s": round(now - meta["created_at"], 3),
                "plan_hash": meta["plan_hash"],
                "bytes_on_disk": size,
            }
        )
    return out
