"""ClickHouse-style data-skipping indexes with the parquet FILE as granule.

ClickHouse MergeTree tables carry secondary "skip indexes" — ``minmax``,
``set(N)``, ``bloom_filter``, ``tokenbf_v1``, ``ngrambf_v1`` — small
per-granule summaries consulted before reading, so a needle-in-haystack
predicate on a non-sort-key column skips most of the table (the reference
deployment's flow table leans on the ORDER BY key for pruning and on these
indexes for everything else; reference migrations/0001_network_flows_0.sql
defines the ORDER BY clustering this complements).

Spark's natural skip unit is the parquet file: a scan over an explicit
file list never opens the skipped files, and row-group stats inside the
kept files still apply via normal parquet filter pushdown.  So the Spark
translation is:

1. **Build** (``build_skip_index``): distributed passes over the table
   keyed by ``input_file_name()`` — indexes on the same column SHARE
   scans (minmax = one stats pass; set + bloom both read one distinct
   (file, value) frame) → a tiny parquet index table
   (one row per data file) under ``index_dir/<column>__<kind>/``, plus a
   ``_spec.json`` sidecar recording the parameters and the column's exact
   Spark dtype (hash inputs are type-tagged — query literals must be cast
   back to the stored dtype or bloom probes would miss).
2. **Prune** (``candidate_files``): evaluate the predicate against the
   index table *distributed*, collect only the QUALIFYING file names
   (same memory shape as ClickHouse's in-memory part list — file paths,
   never payloads).
3. **Read** (``read_indexed``): intersect candidates across conditions,
   FAIL OPEN for files the index has never seen (data appended after the
   build is always read — an index can only prove absence for files it
   summarized), then scan the kept files with the real predicate applied
   on top.  The index is an optimization, never a correctness input: the
   final filter is always evaluated, so false positives cost I/O only and
   false negatives cannot exist by construction.

Index payloads are bounded by design (the r02-advice bounded-fold rule):

- ``minmax``: min/max/counts per file — O(1) per file.
- ``set``: distinct values per file, but collected ONLY for files whose
  distinct count (computed first) is ≤ ``max_values``; overflowing files
  store NULL (= cannot prune), so no unbounded collect ever runs.
- ``bloom`` / ``tokenbf`` / ``ngrambf``: an m-bit bloom filter stored as
  ≤ m/64 (word, bits) pairs; the build aggregates bit positions with
  ``bit_or`` so per-group state is at most the filter size.

All build/prune expressions are JVM built-ins (xxhash64 / pmod / bit_or /
shiftleft) — zero Python on the data path; the only Python is the
driver-side file-list bookkeeping ClickHouse also does.

At 100 TB: the build is one scan (runs inside compaction, like the
reference's part merges); the index is ~files × (bits/8) bytes — 1 M
files × 1 KiB = 1 GiB of index scanned distributed, with only matching
path strings collected.  ``read_indexed`` refuses to enumerate when
pruning wouldn't pay (``min_prune_ratio``), falling back to a plain
directory scan so the file-list plumbing never costs more than it saves.
"""

from __future__ import annotations

import json
import re
from dataclasses import asdict, dataclass
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kubenetmon_spark import fs as _fsm
from kubenetmon_spark.fs import join as _join
from kubenetmon_spark.tables import local_df

_KINDS = ("minmax", "set", "bloom", "tokenbf", "ngrambf")
_TOKEN_RE = "[^a-z0-9]+"


@dataclass(frozen=True)
class IndexSpec:
    """Declaration of one skip index (ClickHouse ``INDEX ... TYPE ...``)."""

    column: str
    kind: str
    bits: int = 8192       # bloom filter size in bits (bloom/tokenbf/ngrambf)
    hashes: int = 3        # bloom hash count k
    max_values: int = 128  # set(N) cap
    ngram: int = 3         # ngrambf gram length

    def __post_init__(self) -> None:
        if self.kind not in _KINDS:
            raise ValueError(f"unknown index kind {self.kind!r}")
        if self.bits % 64 != 0 or self.bits <= 0:
            raise ValueError("bits must be a positive multiple of 64")
        if not 1 <= self.hashes <= 16:
            raise ValueError("hashes must be in 1..16")
        if self.ngram < 2:
            raise ValueError("ngram must be >= 2")

    @property
    def name(self) -> str:
        return f"{self.column}__{self.kind}"


def _rel_file_col(table_dir: str) -> Column:
    """``input_file_name()`` decoded and made relative to ``table_dir``.

    input_file_name() returns a URL-encoded URI; decode it (protecting
    literal '+', which form-decoding would turn into a space) before
    stripping the base path, ``re.escape``d (Java's regex engine accepts
    a backslash before any punctuation).
    """
    decoded = F.url_decode(F.regexp_replace(F.input_file_name(), "[+]", "%2B"))
    return F.regexp_replace(
        decoded, ".*" + re.escape(table_dir.rstrip("/") + "/"), ""
    ).alias("file")


def _rel_path(uri: str, table_dir: str) -> str:
    """Normalize an ``inputFiles()`` URI to the same relative form."""
    p = unquote(uri.replace("+", "%2B"))
    if p.startswith("file:"):
        p = re.sub("^file:/+", "/", p)
    base = table_dir.rstrip("/") + "/"
    idx = p.find(base)
    return p[idx + len(base):] if idx >= 0 else p


def _positions(col: Column, spec: IndexSpec) -> Column:
    """The k bloom bit positions of a value — array<int> of pmod'd hashes."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(spec.bits)).cast("int")
            for i in range(spec.hashes)
        ]
    )


def _terms(df: DataFrame, file_col: Column, spec: IndexSpec) -> DataFrame:
    """(file, term) rows to be bloom-hashed, per the index kind."""
    c = F.col(spec.column)
    if spec.kind == "bloom":
        return df.select(file_col, c.alias("term")).where(c.isNotNull())
    s = F.lower(c)
    if spec.kind == "tokenbf":
        toks = F.array_distinct(F.split(s, _TOKEN_RE))
    else:  # ngrambf; sequence(1, 0) would DESCEND, so guard short strings
        n = spec.ngram
        toks = F.when(
            F.length(s) >= n,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(lower({spec.column})) - {n - 1}),"
                    f" i -> substring(lower({spec.column}), i, {n}))"
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    return (
        df.where(c.isNotNull())
        .select(file_col, F.explode(toks).alias("term"))
        .where(F.col("term") != "")
    )


def _write_spec(out_dir: str, spec: IndexSpec, dtype: str) -> None:
    fs = _fsm.get_fs(out_dir)
    fs.mkdirs(out_dir)
    fs.write_json_atomic(
        _join(out_dir, "_spec.json"), {**asdict(spec), "dtype": dtype}
    )


def _bloom_words(pos: DataFrame) -> DataFrame:
    """(file, p) bit positions -> one (file, words) row per file."""
    return (
        pos.selectExpr(
            "file",
            "CAST(p DIV 64 AS INT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) AS b",
        )
        .groupBy("file", "w")
        .agg(F.expr("bit_or(b)").alias("b"))
        .groupBy("file")
        .agg(F.sort_array(F.collect_list(F.struct("w", "b"))).alias("words"))
    )


def _build_index_dfs(
    df: DataFrame, table_dir: str, specs: list[IndexSpec]
) -> tuple[dict[str, DataFrame], list[DataFrame]]:
    """Build aggregations for ALL requested indexes with shared scans.

    Specs on the same column share work: ``minmax`` is one per-file
    stats pass; ``set`` and ``bloom`` both derive from ONE distinct
    (file, value) frame (bloom positions of the distinct values are the
    distinct positions of all values), which is persisted because two
    index writes consume it.  ``tokenbf``/``ngrambf`` keep their own
    tokenize+explode pass (the term universe is kind-specific).  So a
    table with minmax+set+bloom on a column costs two scans total, not
    three — the per-part merge-time build shape ClickHouse uses.

    Returns (name -> index DataFrame, frames to unpersist after writes).
    """
    file_col = _rel_file_col(table_dir)
    out: dict[str, DataFrame] = {}
    persisted: list[DataFrame] = []
    scalar_by_col: dict[str, list[IndexSpec]] = {}
    for spec in specs:
        if spec.kind in ("minmax", "set", "bloom"):
            scalar_by_col.setdefault(spec.column, []).append(spec)
        else:  # tokenbf / ngrambf: kind-specific term explode
            pos = (
                _terms(df, file_col, spec)
                .select(
                    "file", F.explode(_positions(F.col("term"), spec)).alias("p")
                )
                .distinct()
            )
            out[spec.name] = _bloom_words(pos)
    for column, group in scalar_by_col.items():
        c = F.col(column)
        for spec in group:
            if spec.kind == "minmax":
                out[spec.name] = df.groupBy(file_col).agg(
                    F.min(c).alias("min_v"),
                    F.max(c).alias("max_v"),
                    F.count(c).alias("n_vals"),
                    F.count("*").alias("n_rows"),
                )
        dist_specs = [s for s in group if s.kind in ("set", "bloom")]
        if not dist_specs:
            continue
        d = df.select(file_col, c.alias("v")).where(c.isNotNull()).distinct()
        if len(dist_specs) > 1:
            # bounded: one row per (file, distinct value) — index-sized
            d = d.persist()
            persisted.append(d)
        for spec in dist_specs:
            if spec.kind == "set":
                # Bounded fold: count distincts FIRST, collect small files.
                counts = d.groupBy("file").agg(F.count("*").alias("n_distinct"))
                small = counts.where(F.col("n_distinct") <= spec.max_values)
                vals = (
                    d.join(F.broadcast(small.select("file")), "file")
                    .groupBy("file")
                    .agg(F.sort_array(F.collect_set("v")).alias("vals"))
                )
                out[spec.name] = counts.join(vals, "file", "left")
            else:  # bloom over the distinct values
                pos = d.select(
                    "file", F.explode(_positions(F.col("v"), spec)).alias("p")
                ).distinct()
                out[spec.name] = _bloom_words(pos)
    return out, persisted


def build_skip_index(
    spark: SparkSession,
    table_dir: str,
    specs: list[IndexSpec],
    index_dir: str,
) -> dict[str, int]:
    """Build each index as a small parquet table; returns rows per index.

    Specs sharing a column share scans (``_build_index_dfs``) — building
    minmax+set+bloom together costs two passes over the data, not three.
    """
    df = spark.read.parquet(table_dir)
    all_files = sorted(_rel_path(u, table_dir) for u in df.inputFiles())
    # one-slice frames for the tiny file/probe lists (tables.local_df):
    # the default core-count slicing scheduled 32 Python-backed tasks
    # per scan of a dozens-of-rows frame
    files_df = local_df(spark, [(f,) for f in all_files], "file string")
    built, persisted = _build_index_dfs(df, table_dir, specs)
    # Materialize shared frames BEFORE the writes run: the persisted
    # distinct frame feeds two index writes, and with the writes now
    # submitted concurrently a cold cache would be computed once per
    # racing consumer instead of once.
    for d in persisted:
        d.count()

    def _write_one(spec: IndexSpec) -> None:
        dtype = df.schema[spec.column].dataType.simpleString()
        dest = _join(index_dir, spec.name)
        # left-complete so ZERO-ROW files get a (null-payload) index row:
        # they'd otherwise never be indexed and stay fail-open forever.
        # Null payloads behave correctly per kind (minmax/bloom prove the
        # empty file matches nothing; set keeps it, harmlessly).
        idx = files_df.join(built[spec.name], "file", "left")
        # repartition(1), NOT coalesce(1): coalesce would collapse the
        # whole build aggregation into a single task; repartition keeps
        # the scan/distinct/bit-fold parallel and funnels only the tiny
        # per-file result rows into the one output file.
        idx.repartition(1).write.mode("overwrite").parquet(dest)
        _write_spec(dest, spec, dtype)

    if len(specs) > 1:
        # The per-spec index jobs are independent (disjoint dests, all
        # inputs materialized above); submitting them concurrently
        # overlaps their scheduling/stage gaps — each job alone leaves
        # most executor slots idle between its tiny stages.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(specs))) as ex:
            list(ex.map(_write_one, specs))
    else:
        for spec in specs:
            _write_one(spec)

    out: dict[str, int] = {}
    for spec in specs:
        # every build frame aggregates to AT MOST one row per file
        # (groupBy(file) throughout _build_index_dfs) and the
        # left-complete join pins the row count to the file list —
        # no need to re-read and count what was just written (was a
        # read+count job per spec, r7)
        out[spec.name] = len(all_files)
    for d in persisted:
        d.unpersist()
    return out


def list_indexes(index_dir: str) -> dict[str, dict]:
    """name -> spec dict (incl. stored dtype) for every built index."""
    out: dict[str, dict] = {}
    fs = _fsm.get_fs(index_dir)
    if not fs.is_dir(index_dir):
        return out
    for name in fs.list_names(index_dir):
        spec_file = _join(index_dir, name, "_spec.json")
        if fs.is_file(spec_file):
            out[name] = fs.read_json(spec_file)
    return out


def _probe_positions(
    spark: SparkSession, terms: list, dtype: str, spec: dict
) -> list[list[int]]:
    """Bloom positions of query terms, computed BY SPARK so the hash is
    bit-identical to the build (xxhash64 is type-tagged; a Python
    reimplementation would have to replicate Spark's byte layout)."""
    exprs = []
    for j, t in enumerate(terms):
        lit = F.lit(t).cast(dtype)
        for i in range(spec["hashes"]):
            exprs.append(
                F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(spec["bits"]))
                .cast("int")
                .alias(f"p_{j}_{i}")
            )
    row = spark.range(1).select(*exprs).first()
    return [
        [row[f"p_{j}_{i}"] for i in range(spec["hashes"])]
        for j in range(len(terms))
    ]


def _bloom_candidates(
    spark: SparkSession,
    idx: DataFrame,
    spec: dict,
    term_groups: list[list],
    dtype: str,
) -> set[str]:
    """Files that MAY contain, for SOME term-group, ALL its terms.

    ``term_groups`` is OR-of-ANDs: eq/IN pass one group per value (each a
    single term); token/substring search passes ONE group with all its
    tokens/grams (all must be present).
    """
    entries = idx.select(
        "file", F.explode("words").alias("e")
    ).select("file", F.col("e.w").alias("w"), F.col("e.b").alias("b"))
    out: set[str] = set()
    for group in term_groups:
        pos = _probe_positions(spark, group, dtype, spec)
        need: dict[int, int] = {}
        for plist in pos:
            for p in plist:
                w, bit = p // 64, 1 << (p % 64)
                need[w] = need.get(w, 0) | bit
        need_df = local_df(
            spark, [(w, _to_signed64(m)) for w, m in need.items()], "w int, need long"
        )
        sat = entries.join(F.broadcast(need_df), "w").where(
            F.col("b").bitwiseAND(F.col("need")) == F.col("need")
        )
        rows = (
            sat.groupBy("file")
            .agg(F.count("*").alias("n_ok"))
            .where(F.col("n_ok") == len(need))
            .select("file")
            .collect()
        )
        out.update(r.file for r in rows)
    return out


def _to_signed64(m: int) -> int:
    return m - (1 << 64) if m >= (1 << 63) else m


def _query_terms(op: str, value, spec: dict) -> list[list] | None:
    """Translate (op, value) to bloom OR-of-AND term groups; None = the
    index cannot serve this op (caller falls back to reading)."""
    kind = spec["kind"]
    if kind == "bloom":
        if op == "eq":
            return [[value]]
        if op == "in":
            return [[v] for v in value]
        return None
    if kind == "tokenbf":
        if op not in ("has_token", "has_all_tokens", "eq"):
            return None
        text = value if isinstance(value, str) else " ".join(value)
        toks = [t for t in re.split(_TOKEN_RE, text.lower()) if t]
        return [toks] if toks else None
    if kind == "ngrambf":
        if op not in ("like_substr", "eq"):
            return None
        n = spec["ngram"]
        s = str(value).lower()
        if len(s) < n:
            return None  # needle shorter than the gram — cannot prune
        return [[s[i : i + n] for i in range(len(s) - n + 1)]]
    return None


def _cand_known(
    spark: SparkSession,
    index_dir: str,
    name: str,
    op: str,
    value,
) -> tuple[set[str] | None, set[str] | None]:
    """(candidate files, files KNOWN to this index) in one index read.

    Candidates ``None`` = the index cannot serve ``op`` (no pruning from
    me, and no job runs).  For minmax/set the match flag rides the same
    collect that enumerates the index's file column — one job per index
    per condition instead of a match collect plus a separate
    known-files collect (``read_indexed`` was paying two tiny-job
    scheduling round-trips per index, r7); minmax ``in`` likewise folds
    its per-value point probes into ONE collect (a file matches the OR
    of the point conditions exactly when it is in the union of the
    per-value candidate sets).  The bloom family keeps its distributed
    probe join (the part-list memory contract: only matching names are
    ever collected), so its known set comes back ``None`` and the
    caller collects/caches the file column once per index.
    """
    specs = list_indexes(index_dir)
    if name not in specs:
        raise KeyError(f"no index {name!r} under {index_dir}")
    spec = specs[name]
    idx = spark.read.parquet(_join(index_dir, name))
    dtype = spec["dtype"]
    kind = spec["kind"]
    if kind == "minmax":
        if op == "eq":
            points = [(F.lit(value).cast(dtype),) * 2]
        elif op == "in":  # union of per-value point probes (tighter than a range)
            points = [(F.lit(v).cast(dtype),) * 2 for v in value]
        elif op == "between":
            points = [(F.lit(value[0]).cast(dtype), F.lit(value[1]).cast(dtype))]
        else:
            return None, None
        cond = F.lit(False)
        for lo, hi in points:
            cond = cond | ((hi >= F.col("min_v")) & (lo <= F.col("max_v")))
        rows = idx.select("file", cond.alias("m")).collect()
        return {r.file for r in rows if r.m}, {r.file for r in rows}
    if kind == "set":
        if op == "eq":
            vals = [value]
        elif op == "in":
            vals = list(value)
        else:
            return None, None
        cond = F.col("vals").isNull()  # overflowed file: cannot exclude
        for v in vals:
            cond = cond | F.array_contains(F.col("vals"), F.lit(v).cast(dtype))
        rows = idx.select("file", cond.alias("m")).collect()
        return {r.file for r in rows if r.m}, {r.file for r in rows}
    groups = _query_terms(op, value, spec)
    if groups is None:
        return None, None
    if not groups or any(len(g) == 0 for g in groups):
        return None, None
    return _bloom_candidates(spark, idx, spec, groups, dtype), None


def candidate_files(
    spark: SparkSession,
    index_dir: str,
    name: str,
    op: str,
    value,
) -> set[str] | None:
    """Files that may satisfy ``column <op> value`` per index ``name``.

    Returns ``None`` when this index cannot decide (unsupported op, or a
    set index that overflowed everywhere) — meaning "no pruning from me".
    A returned set is a PROOF that every other file has no matching row.
    """
    return _cand_known(spark, index_dir, name, op, value)[0]


def _spark_predicate(column: str, op: str, value) -> Column:
    """The REAL predicate — always applied after pruning."""
    c = F.col(column)
    if op == "eq":
        return c == F.lit(value)
    if op == "in":
        return c.isin(list(value))
    if op == "between":
        return c.between(F.lit(value[0]), F.lit(value[1]))
    if op in ("has_token", "has_all_tokens"):
        toks = [t for t in re.split(_TOKEN_RE, str(value).lower()) if t]
        cond = F.lit(True)
        for t in toks:
            cond = cond & F.array_contains(
                F.split(F.lower(c), _TOKEN_RE), F.lit(t)
            )
        return cond
    if op == "like_substr":
        return F.lower(c).contains(str(value).lower())
    raise ValueError(f"unsupported op {op!r}")


def read_indexed(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    conditions: list[tuple[str, str, object]],
    min_prune_ratio: float = 0.0,
    apply_filter: bool = True,
) -> DataFrame:
    """Scan ``table_dir`` with skip-index file pruning for ``conditions``.

    ``conditions`` — [(column, op, value)] ANDed together; every condition
    that has a usable index contributes an intersection of candidates.
    Files unknown to SOME used index are kept (fail-open: appended-after-
    build data is always read).  If pruning would drop less than
    ``min_prune_ratio`` of the files, the plain directory scan is used —
    the explicit file list has driver-side cost, so don't pay it for
    nothing.  The real predicate is always applied (``apply_filter``),
    so index false positives never reach the caller.
    """
    full = spark.read.parquet(table_dir)
    pred = None
    if apply_filter:
        for column, op, value in conditions:
            p = _spark_predicate(column, op, value)
            pred = p if pred is None else (pred & p)

    specs = list_indexes(index_dir)
    by_col: dict[str, list[str]] = {}
    for name, s in specs.items():
        by_col.setdefault(s["column"], []).append(name)

    # Each (condition, index) probe is an independent tiny job; submit
    # them concurrently (the probe was a serial chain of sub-second
    # collects whose cost was scheduling gaps, r7) and merge the results
    # afterwards — set intersection/union is order-insensitive, so the
    # outcome is identical to the old sequential loop.
    probes = [
        (column, op, value, name)
        for column, op, value in conditions
        for name in by_col.get(column, ())
    ]

    def _probe(args):
        column, op, value, name = args
        return name, _cand_known(spark, index_dir, name, op, value)

    if len(probes) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(probes))) as ex:
            results = list(ex.map(_probe, probes))
    else:
        results = [_probe(p) for p in probes]

    keep: set[str] | None = None  # None = no index applied yet
    known: set[str] = set()
    known_by_name: dict[str, set[str]] = {}  # one file-list collect per index
    for name, (cand, idx_files) in results:
        if cand is None:
            continue
        if idx_files is None:  # bloom family: collect once, cache
            idx_files = known_by_name.get(name)
            if idx_files is None:
                idx_files = {
                    r.file
                    for r in spark.read.parquet(_join(index_dir, name))
                    .select("file")
                    .collect()
                }
        known_by_name[name] = idx_files
        known |= idx_files
        keep = cand if keep is None else (keep & cand)

    if keep is None:
        return full.where(pred) if pred is not None else full

    actual = {_rel_path(u, table_dir): u for u in full.inputFiles()}
    kept_abs = [
        uri
        for rel, uri in actual.items()
        if rel in keep or rel not in known  # fail open for unindexed files
    ]
    if len(actual) == 0 or 1 - len(kept_abs) / len(actual) < min_prune_ratio:
        return full.where(pred) if pred is not None else full
    if not kept_abs:
        empty = full.where(F.lit(False))
        return empty.where(pred) if pred is not None else empty
    df = spark.read.option("basePath", table_dir).parquet(*kept_abs)
    return df.where(pred) if pred is not None else df


def update_skip_index(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
) -> dict[str, int]:
    """Incrementally index files appended since the last build — the
    ClickHouse contract that every new part gets its index rows ON
    INSERT, without rebuilding existing parts.

    For each built index (``list_indexes``): diff the table's current
    file list against the index's file column, run the same build
    aggregation over ONLY the missing files (one scan of the new data
    per index), and append the rows. Until this runs, ``read_indexed``
    already fails open for unindexed files, so the update narrows I/O
    rather than fixing correctness — safe to run from a foreachBatch
    hook or a compaction cron with no coordination.

    Returns ``{index_name: n_new_files_indexed}``.
    """
    specs = list_indexes(index_dir)
    if not specs:
        return {}
    actual = {
        _rel_path(u, table_dir): u
        for u in spark.read.parquet(table_dir).inputFiles()
    }
    out: dict[str, int] = {}
    # Group indexes by their missing-file set so the usual case — all
    # indexes updated together after an append — shares scans exactly
    # like build_skip_index (one stats pass + one distinct pass per
    # column, not one scan per index).
    by_missing: dict[tuple[str, ...], list[IndexSpec]] = {}
    for name, spec_d in specs.items():
        dest = _join(index_dir, name)
        indexed = {
            r.file
            for r in spark.read.parquet(dest).select("file").collect()
        }
        missing = tuple(sorted(set(actual) - indexed))
        out[name] = len(missing)
        if not missing:
            continue
        spec = IndexSpec(
            column=spec_d["column"],
            kind=spec_d["kind"],
            bits=spec_d["bits"],
            hashes=spec_d["hashes"],
            max_values=spec_d["max_values"],
            ngram=spec_d["ngram"],
        )
        by_missing.setdefault(missing, []).append(spec)
    for missing, group in by_missing.items():
        df = spark.read.option("basePath", table_dir).parquet(
            *[actual[rel] for rel in missing]
        )
        missing_df = local_df(
            spark, [(f,) for f in missing], "file string"
        )
        built, persisted = _build_index_dfs(df, table_dir, group)
        for spec in group:
            idx = missing_df.join(built[spec.name], "file", "left")
            # repartition(1) keeps the build parallel (see build_skip_index)
            idx.repartition(1).write.mode("append").parquet(
                _join(index_dir, spec.name)
            )
        for d in persisted:
            d.unpersist()
    return out
