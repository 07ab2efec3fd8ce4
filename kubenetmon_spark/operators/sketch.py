"""Heavy hitters via per-partition Misra-Gries + exact verification.

"Top talkers" over 100 TB (reference README.md:180-184's headline query)
doesn't need a full groupBy when the answer is the top handful of keys:
a groupBy shuffles EVERY distinct key; the sketch path shuffles only a
candidate set bounded by ``num_counters x partitions``.

Two phases, mirroring the LSH candidates-then-verify pattern:

1. **Sketch** (mapInPandas, no shuffle): each partition keeps a
   Misra-Gries summary of at most ``num_counters`` counters, folded in
   Arrow-batch-sized steps (batch value_counts merged into the summary;
   on overflow, every counter drops by the (num_counters+1)-th largest
   value and non-positive counters evict — the batched form of MG's
   decrement). A key's undercount is bounded by the partition's total
   decrement < n_p/num_counters, so any key with GLOBAL frequency >
   n/num_counters survives in at least one partition (pigeonhole over
   the partition frequencies).
2. **Verify** (one small shuffle): exact counts for candidate keys only
   (semi-join the fact side against the broadcast candidate set), then
   top-k. Counts returned are EXACT; the sketch only decides
   candidacy, and cannot miss any key with frequency >= n/num_counters.

Pick ``num_counters >= n / (expected k-th heaviest count)`` — the
default 256 is complete for any key holding >= 0.4% of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _fold_mg(counters: dict, batch_counts, num_counters: int) -> dict:
    """Merge a batch's exact counts into a Misra-Gries summary."""
    for v, c in batch_counts.items():
        counters[v] = counters.get(v, 0) + int(c)
    if len(counters) > num_counters:
        t = sorted(counters.values(), reverse=True)[num_counters]
        counters = {k: n - t for k, n in counters.items() if n - t > 0}
    return counters


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    num_counters: int = 256,
) -> DataFrame:
    """Exact counts of the top-``k`` keys, found without shuffling every
    distinct key. Returns (key_col, n) ordered by n desc, key asc.
    Complete whenever the k-th heaviest key holds > 1/num_counters of
    all rows; raise ``num_counters`` for flatter distributions.

    NULL keys are excluded — explicitly (filter below), matching
    ClickHouse's aggregate-function convention (``topK`` skips NULLs);
    without the explicit filter the exclusion would still happen, but
    accidentally (pandas ``value_counts`` drops NaN and an equi
    semi-join never matches null) — deliberate beats incidental."""
    sketch_schema = StructType([StructField("key", StringType(), True)])

    def sketch(batches):
        import pandas as pd

        counters: dict = {}
        for b in batches:
            counters = _fold_mg(counters, b[key_col].value_counts(), num_counters)
        yield pd.DataFrame({"key": list(counters.keys())})

    keyed = df.select(
        F.col(key_col).cast("string").alias(key_col)
    ).filter(F.col(key_col).isNotNull())
    candidates = (
        keyed.mapInPandas(sketch, sketch_schema)
        .select(F.col("key").alias(key_col))
        .distinct()
    )
    exact = (
        keyed.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return exact.orderBy(F.desc("n"), F.asc(key_col)).limit(k)


def heavy_hitters_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 10,
    num_counters: int = 256,
) -> DataFrame:
    """ClickHouse ``topKWeighted``: top-``k`` keys by SUMMED WEIGHT
    (bytes, revenue) rather than row count — the actual top-talkers
    semantics of the README query (reference README.md:180-185).
    Same Misra-Gries candidate pass as :func:`heavy_hitters` but fed
    weighted increments (MG admits arbitrary positive increments), then
    exact weight sums over the surviving candidates only. Complete
    whenever the k-th heaviest key holds > 1/num_counters of the total
    weight. NULL keys excluded, like :func:`heavy_hitters`."""
    sketch_schema = StructType([StructField("key", StringType(), True)])

    def sketch(batches):
        import pandas as pd

        counters: dict = {}
        for b in batches:
            sums = b.groupby(key_col)[weight_col].sum()
            # Misra-Gries is only correct for positive increments; a
            # negative batch weight-sum would silently evict true heavy
            # hitters. Fail loudly instead of returning a wrong top-k.
            if (sums < 0).any():
                bad = sums[sums < 0].index[0]
                raise ValueError(
                    "heavy_hitters_weighted requires non-negative "
                    f"weights; key {bad!r} has a negative batch sum"
                )
            counters = _fold_mg(counters, sums, num_counters)
        yield pd.DataFrame({"key": list(counters.keys())})

    slim = df.select(
        F.col(key_col).cast("string").alias(key_col), weight_col
    ).filter(F.col(key_col).isNotNull())
    candidates = (
        slim.mapInPandas(sketch, sketch_schema)
        .select(F.col("key").alias(key_col))
        .distinct()
    )
    exact = (
        slim.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.sum(weight_col).cast("long").alias("total_weight"))
    )
    return exact.orderBy(F.desc("total_weight"), F.asc(key_col)).limit(k)


# --- KMV (k-minimum-values) distinct-count sketch ----------------------
#
# The ENGINE-EXACT form of ClickHouse's uniqState/uniqMerge: where HLL
# packing varies with merge order (and across libraries), the KMV synopsis —
# the k smallest distinct 52-bit md5-derived hash values — is a pure
# SET function of the input: any engine, any partitioning, any merge
# tree produces byte-identical states and estimates. That makes it safe
# to persist per partition, diff across replicas, and ORACLE-CHECK
# (gate q117), at the cost of a larger state than HLL for equal error
# (k=1024 doubles -> ~1.6% typical relative error, like lg_k=12 HLL).

#: 52-bit hash (13 hex digits of md5): small enough that the estimator
#: numerator (k-1) * 2^52 stays inside a signed BIGINT for k up to
#: ~2000, so the whole estimate is integer floor division — no decimal
#: rounding rules to reconcile across engines. 52-bit space keeps the
#: collision term n^2/2^53 negligible to beyond 10^7 distincts per
#: group; for more, widen to 15 digits and a DECIMAL numerator.
_KMV_BITS = 52


def _kmv_hash(col):
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 13), 16, 10).cast(
        "long"
    )


def _partition_bottom_k(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    dedup: bool,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Per INPUT PARTITION, keep only the ``k`` smallest-``_h`` rows of
    each group — a zero-shuffle Arrow-batched fold that bounds what any
    later per-group collect can see.

    Without this, a billion-row group would materialize entirely inside
    one ``collect_list``/``collect_set`` array before the slice-to-k —
    unbounded executor memory, the opposite of what a bounded sketch
    promises (ADVICE r02). After the fold, the downstream collect holds
    at most ``k × num_partitions`` entries per group: bounded by cluster
    topology, not data size — the standard partial-state/merge shape of
    every mergeable sketch in this module.

    Correctness: the global bottom-k of a union is the bottom-k of the
    per-part bottom-ks (any row in the global bottom-k is necessarily in
    its own partition's bottom-k), so the final state is bit-identical
    to the unbounded build. Rows are ordered by ALL non-group columns
    (``_h`` first), matching the struct sort order of the final
    ``sort_array``, so hash ties keep identical survivors too.
    ``dedup=True`` additionally drops duplicate (group, _h) pairs
    locally (KMV wants distinct hashes; the final collect_set still
    dedups across partitions).

    ``sort_cols`` overrides the ordering columns: pass it when the
    frame carries PAYLOAD columns that must ride along untouched —
    payloads must not join the sort (array/map payloads are unhashable
    in the pandas sort, and a unique tiebreaker makes them redundant
    anyway). Default: every non-group column."""
    if sort_cols is None:
        sort_cols = [c for c in df.columns if c not in group_cols]
    gcols = list(group_cols)

    def fold(batches):
        import pandas as pd

        acc = None
        for b in batches:
            cur = pd.concat([acc, b], ignore_index=True) if acc is not None else b
            if dedup:
                cur = cur.drop_duplicates(subset=gcols + ["_h"])
            cur = cur.sort_values(sort_cols, kind="mergesort")
            # dropna=False: Spark's groupBy keeps null group keys; the
            # pandas default silently drops them, which would erase the
            # null group's state entirely
            acc = (
                cur.groupby(gcols, sort=False, dropna=False).head(k)
                if gcols
                else cur.head(k)
            )
        if acc is not None and len(acc):
            yield acc

    return df.mapInPandas(fold, df.schema)


def kmv_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 1024,
    out_col: str = "kmv_sketch",
) -> DataFrame:
    """Per group, the sorted array of the ``k`` smallest distinct
    52-bit hash values — a mergeable distinct-count state that is
    bit-identical across engines and partitionings.

    Build shape: a zero-shuffle per-partition bottom-k fold
    (:func:`_partition_bottom_k`) bounds per-group state BEFORE the one
    hash shuffle, which then carries at most ``k`` longs per
    (partition, group) — no global distinct over every (group, hash)
    pair, and no unbounded collect. Final state size is at most ``k``
    longs per group.

    NULL values are skipped, but their GROUPS are kept (empty-array
    state — ClickHouse GROUP BY semantics, and what kmv_overlap's
    empty-pair guard expects). The mechanism is deliberate even though
    it reads incidental: NULL hashes sort LAST in the fold's pandas
    sort (never displacing a real value from the bottom-k) and the
    final ``collect_set`` drops them — an explicit pre-filter would
    erase all-NULL groups entirely, which is the wrong contract."""
    h = _kmv_hash(value_col).alias("_h")
    pre = _partition_bottom_k(
        df.select(*group_cols, h), group_cols, k, dedup=True
    )
    return (
        pre.groupBy(*group_cols)
        .agg(
            F.slice(F.sort_array(F.collect_set("_h")), 1, k).alias(out_col)
        )
    )


def kmv_merge(
    sketches: DataFrame,
    group_cols: list[str],
    sketch_col: str = "kmv_sketch",
    k: int = 1024,
    out_col: str = "n_distinct_est",
) -> DataFrame:
    """Union KMV states and estimate distinct counts — ClickHouse's
    ``uniqMerge`` with deterministic integer math: fewer than ``k``
    values means the count is EXACT; otherwise the classic estimator
    ``(k-1) * 2^52 div kth_min`` (all BIGINT, floor division — 52 =
    ``_KMV_BITS``), so every engine lands on the same integer."""
    merged = (
        sketches.select(*group_cols, F.explode(sketch_col).alias("_h"))
        .distinct()
        .groupBy(*group_cols)
        .agg(F.slice(F.sort_array(F.collect_set("_h")), 1, k).alias("_m"))
    )
    n = F.size(F.col("_m"))
    est = F.when(n < k, n.cast("long")).otherwise(
        F.expr(f"{(2 ** _KMV_BITS) * (k - 1)}L div element_at(_m, {k})")
    )
    return merged.select(*group_cols, est.alias(out_col))

# --- bottom-k hash sample: engine-exact approximate quantiles ----------
#
# The quantile twin of the KMV distinct sketch: a MERGEABLE uniform row
# sample that every engine reproduces bit-for-bit. Each row gets a
# 52-bit md5 hash of its KEY (a unique row identifier, not the value —
# equal values must each count); the state is the k rows with the
# smallest hashes (a uniform-without-replacement sample, by symmetry of
# the hash); merging states = keeping the k smallest of the union, so
# per-day states roll up into range quantiles without a fact rescan —
# ClickHouse's quantileState/-Merge shape with deterministic contents.
# Quantile estimate = the floor((n_sample - 1) * q / 100) + 1-th element
# of the value-sorted sample — pure integer indexing, no interpolation
# floats, identical in any engine.


def quantile_sample_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    k: int = 1024,
    out_col: str = "q_sample",
) -> DataFrame:
    """Per group, the (hash, value) pairs of the ``k`` smallest-hash
    rows — a deterministic mergeable uniform sample. ``key_col`` must
    uniquely identify a row within the group (e.g. event_id).

    Bounded build: the per-partition bottom-k fold runs first (zero
    shuffle), so the per-group collect sees at most ``k`` rows per
    input partition — never the whole group (ADVICE r02).

    NULL keys fail loudly: a NULL hash sorts LAST in the fold's pandas
    sort but FIRST in the final ``sort_array``, so letting one through
    would let a junk entry displace real sample rows — and a NULL key
    breaks the uniqueness contract anyway."""
    h = F.coalesce(
        F.when(
            F.col(key_col).isNull(),
            F.raise_error(
                F.lit(
                    "quantile_sample_state: NULL key — key_col must "
                    "uniquely identify rows within the group"
                )
            ).cast("long"),
        ),
        _kmv_hash(key_col),
    ).alias("_h")
    pre = _partition_bottom_k(
        df.select(*group_cols, h, F.col(value_col).alias("_v")),
        group_cols,
        k,
        dedup=False,
    )
    return (
        pre.groupBy(*group_cols)
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("_h", "_v"))), 1, k
            ).alias(out_col)
        )
    )


def quantile_merge(
    sketches: DataFrame,
    group_cols: list[str],
    quantiles_pct: list[int],
    sketch_col: str = "q_sample",
    k: int = 1024,
) -> DataFrame:
    """Union bottom-k sample states and estimate the given percentiles
    (integer percents). Fewer than ``k`` sampled rows means the sample
    IS the group and the quantiles are exact."""
    merged = (
        sketches.select(*group_cols, F.explode(sketch_col).alias("_e"))
        .groupBy(*group_cols)
        .agg(
            F.slice(F.sort_array(F.collect_list("_e")), 1, k).alias("_m")
        )
    )
    vals = F.array_sort(F.transform(F.col("_m"), lambda s: s["_v"]))
    n = F.size(vals)
    cols = [
        F.element_at(
            vals, (F.floor((n - 1) * F.lit(int(q)) / 100) + 1).cast("int")
        ).alias(f"p{q}")
        for q in quantiles_pct
    ]
    return merged.select(*group_cols, n.alias("n_sample"), *cols)


def kmv_overlap(
    sketches: DataFrame,
    group_col: str,
    sketch_col: str = "kmv_sketch",
    k: int = 1024,
) -> DataFrame:
    """Pairwise set-overlap estimates between groups from their KMV
    states — "how much do these audiences overlap" without rescanning
    facts, deterministic across engines (like everything KMV).

    For groups A, B: U = the k smallest hashes of A ∪ B; with
    m = |U ∩ A ∩ B|, Jaccard ≈ m / |U| (exact when both sets fit in
    k). Emitted: ``jaccard_bp`` (integer basis points, floor) and
    ``n_common`` (m — the shared-sample size the estimate rests on).
    One tiny self-join over group-count rows; the heavy lifting
    happened when the states were built.
    """
    s = sketches.select(
        F.col(group_col).alias("_g"), F.col(sketch_col).alias("_s")
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(b, F.col("a._g") < F.col("b._g"))
    union_k = F.slice(
        F.array_sort(
            F.array_union(F.col("a._s"), F.col("b._s"))
        ),
        1,
        k,
    )
    mid = pairs.select(
        F.col("a._g").alias("group_1"),
        F.col("b._g").alias("group_2"),
        union_k.alias("_u"),
        F.col("a._s").alias("_sa"),
        F.col("b._s").alias("_sb"),
    )
    m = F.size(
        F.array_intersect(
            F.array_intersect(F.col("_u"), F.col("_sa")), F.col("_sb")
        )
    )
    u = F.size(F.col("_u"))
    return mid.select(
        "group_1",
        "group_2",
        u.alias("n_union_sample"),
        m.alias("n_common"),
        (m * F.lit(10_000)).cast("long").alias("_num"),
    ).select(
        "group_1",
        "group_2",
        "n_union_sample",
        "n_common",
        # nullif: a group whose values were all NULL has an EMPTY
        # sketch; a pair of such groups has a 0-size union sample, and
        # ANSI `div` by zero would kill the whole job for one
        # degenerate pair. Overlap of two empty sets is undefined ->
        # NULL, matching this file's try_divide/nullif convention.
        F.expr("_num div nullif(n_union_sample, 0)").alias("jaccard_bp"),
    )


# --- portable exact-integer HyperLogLog --------------------------------
#
# The HLL twin of the KMV sketch above, with the same engine-exactness
# contract: every quantity is integer arithmetic over the shared 52-bit
# md5 hash, so registers AND estimates are bit-identical across engines,
# partitionings, and merge orders — unlike library HLLs (Spark's
# hll_sketch_agg), whose packed bytes vary per
# implementation (q56's gate therefore hashes accuracy-contract
# booleans rather than the sketch values themselves).
#
# Register build: bucket = top ``p`` hash bits; rho = position of the
# first 1-bit in the remaining ``52 - p`` bits (all-zero remainder =>
# 52 - p + 1). State = per-group sparse register table {bucket: max rho}
# — at most 2^p entries per group regardless of cardinality, mergeable
# by per-bucket MAX (associative, commutative, idempotent).
#
# Estimator: the raw HyperLogLog harmonic mean (Flajolet et al. 2007),
#     E = alpha_m * m^2 / sum_j 2^(-M[j])
# computed entirely in integers: each 2^(-M[j]) term is scaled by
# 2^(W+1) (W = 52 - p, max rho = W + 1), so the denominator
# sum fits a BIGINT (<= m * 2^(W+1) = 2^53 at p=8) and the alpha-scaled
# numerator is one 128-bit constant. DELIBERATELY no small/large-range
# correction: linear counting needs ln() (float, not portable-exact);
# the small-cardinality regime is served exactly by the KMV sketch
# (kmv_state/kmv_merge, gate q117), which IS exact below k distincts.

#: Total hash bits (13 hex digits of md5) — shared with the KMV sketch.
_HLL_BITS = _KMV_BITS


def _hll_alpha_e6(m: int) -> int:
    """alpha_m (Flajolet's bias constant for m >= 128) in fixed-point
    millionths — a compile-time integer both engines share."""
    return int(round(1_000_000 * 0.7213 / (1.0 + 1.079 / m)))


def hll_exact_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
    out_col: str = "hll_regs",
) -> DataFrame:
    """ClickHouse ``uniqState`` analogue with deterministic contents:
    per group, the sparse HLL register table as a bucket-sorted
    ``array<struct<b:int, rho:int>>``. NULL values are skipped
    (ClickHouse ``uniq`` convention, same as kmv_state's hash filter).

    Build shape: one hash shuffle on (group, bucket) with map-side
    combined MAX partials — per-task state is bounded by
    ``groups x 2^p`` registers, never by row count — then a tiny
    second aggregation packs <= 2^p register rows per group into the
    state array."""
    w_bits = _HLL_BITS - p
    mask = (1 << w_bits) - 1
    rho = (
        f"CASE WHEN (_h & {mask}) = 0 THEN {w_bits + 1} "
        f"ELSE instr(lpad(bin(_h & {mask}), {w_bits}, '0'), '1') END"
    )
    regs = (
        df.select(*group_cols, _kmv_hash(value_col).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .select(
            *group_cols,
            F.shiftright("_h", w_bits).cast("int").alias("_b"),
            F.expr(rho).cast("int").alias("_rho"),
        )
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_rho"))
    )
    return regs.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct("_b", "_rho"))).alias(out_col)
    )


def hll_exact_merge(
    sketches: DataFrame,
    group_cols: list[str],
    p: int = 8,
    sketch_col: str = "hll_regs",
    out_col: str = "n_distinct_est",
) -> DataFrame:
    """ClickHouse ``uniqMerge`` over the exact-integer HLL states:
    per-bucket MAX across states, then the raw integer estimator.
    Returns (group_cols..., out_col, n_regs) where ``n_regs`` is the
    count of non-empty registers — bit-identical in any engine.

    The shuffle carries at most 2^p register structs per (state, group)
    — bytes, not fact rows; range rollups over persisted per-day states
    never rescan facts."""
    m = 1 << p
    w_bits = _HLL_BITS - p
    scale = 1 << (w_bits + 1)  # 2^(W+1): the 2^-rho fixed-point scale
    numerator = _hll_alpha_e6(m) * m * m * scale
    merged = (
        sketches.select(*group_cols, F.explode(sketch_col).alias("_e"))
        .select(*group_cols, F.col("_e._b").alias("_b"), F.col("_e._rho").alias("_rho"))
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_rho"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_regs"),
            F.sum(F.expr(f"shiftright(CAST({scale} AS BIGINT), _rho)")).alias(
                "_sum_pow"
            ),
        )
    )
    return merged.select(
        *group_cols,
        F.expr(
            f"CAST(CAST('{numerator}' AS DECIMAL(38,0)) div "
            f"(CAST(_sum_pow + ({m} - n_regs) * CAST({scale} AS BIGINT) "
            f"AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
        ).alias(out_col),
        F.col("n_regs").cast("long").alias("n_regs"),
    )
