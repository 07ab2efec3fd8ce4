"""Distributed k-means (Lloyd's) over embedding columns.

The trainer for the IVF index (operators/similarity.py::ivf_topk uses a
fixed deterministic "init" so its gate oracle can reproduce the
partition; real deployments train centroids first). Also the generic
clustering primitive a training-data pipeline needs: topic bucketing,
dedup-by-cluster, stratified mixture control.

Spark-first shape, sized for 100 TB:
- **Assignment** is the only per-row work: an Arrow-batched
  ``mapInPandas`` computing ``argmin ||v - c||^2`` with one NumPy block
  matmul per batch against the broadcast (k x dim) centroid matrix —
  the same pattern as the cosine near-dup operator (higher-order SQL
  lambdas are interpreted in Spark; NumPy batches are ~10-20x faster).
- **Update** is a two-level reduction that never collects vectors: the
  same pass emits per-batch partial sums (k rows per batch), which
  aggregate to k x (dim + 1) scalars via ``element_at`` sums (codegen'd,
  no interpreted lambda) — only that k x dim matrix reaches the driver
  each iteration.
- Per-iteration cost: one scan + one k-row shuffle. Centroids stay tiny
  (k * dim * 8 bytes), so the loop is scan-bound, exactly as it should
  be.

Determinism: init = the k lowest-id vectors (like IVF's fixed init).
Floating-point partial-sum order varies across partitionings, so two
runs can differ in the last ulp; tests therefore validate against an
independent NumPy implementation with tolerances, and cluster-quality
invariants (monotone inertia, label purity) rather than bit equality.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from kubenetmon_spark.tables import driver_table


def _init_centroids(
    vectors: DataFrame, k: int, id_col: str, vec_col: str
) -> np.ndarray:
    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(rows)}")
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def _partials_schema(dim: int) -> str:
    return "cluster int, cnt long, vecsum array<double>"


def kmeans_fit(
    vectors: DataFrame,
    k: int = 10,
    n_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's iterations; returns the (k, dim) centroid matrix.

    Stops early when the max centroid shift (L2) drops below ``tol``.
    Empty clusters keep their previous centroid (deterministic, no
    respawn randomness). NULL embeddings are dropped before the fit
    (one degenerate crawl row must not kill the job — the sign-LSH
    convention).
    """
    vectors = vectors.filter(F.col(vec_col).isNotNull())
    cents = _init_centroids(vectors, k, id_col, vec_col)
    dim = cents.shape[1]
    sc = vectors.sparkSession.sparkContext

    # Each Lloyd's iteration is an action over the same input; persist it
    # once so iterations 2..n read cached columnar batches, not parquet.
    vec_slim = vectors.select(vec_col).persist()

    for _ in range(n_iter):
        bc = sc.broadcast(cents)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            c_sq = (c * c).sum(axis=1)
            for b in batches:
                if not len(b):
                    continue
                v = np.array([np.asarray(x, dtype=np.float64) for x in b[vec_col]])
                # ||v-c||^2 = v.v - 2 v.c + c.c; v.v constant per row
                assign = np.argmin(-2.0 * (v @ c.T) + c_sq, axis=1)
                out_rows = []
                for cl in np.unique(assign):
                    mask = assign == cl
                    out_rows.append(
                        (int(cl), int(mask.sum()), v[mask].sum(axis=0).tolist())
                    )
                yield pd.DataFrame(
                    out_rows, columns=["cluster", "cnt", "vecsum"]
                )

        agg = (
            vec_slim
            .mapInPandas(partials, schema=_partials_schema(dim))
            .groupBy("cluster")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[
                    F.sum(F.element_at("vecsum", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_cents = cents.copy()
        for row in agg:
            cl = row["cluster"]
            s = np.array([row[f"s{i}"] for i in range(dim)])
            new_cents[cl] = s / row["cnt"]
        bc.destroy()
        shift = float(np.sqrt(((new_cents - cents) ** 2).sum(axis=1)).max())
        cents = new_cents
        if shift < tol:
            break
    vec_slim.unpersist()
    return cents


def kmeans_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cluster`` (argmin squared L2, ties -> lowest id) and
    ``sq_dist``. One Arrow pass, no shuffle — at scale, write ``cluster``
    out as a partition column and IVF probes become partition-pruned
    scans (see ivf_topk's scale note)."""
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        c_sq = (c * c).sum(axis=1)
        for b in batches:
            if not len(b):
                continue
            # NULL embeddings keep their row with NULL cluster/sq_dist
            # instead of crashing the reshape
            ok = b[vec_col].notna().to_numpy()
            b = b.copy()
            b["cluster"] = pd.array([None] * len(b), dtype="Int32")
            b["sq_dist"] = np.full(len(b), np.nan)
            if ok.any():
                v = np.array(
                    [np.asarray(x, dtype=np.float64) for x in b[vec_col][ok]]
                )
                d = -2.0 * (v @ c.T) + c_sq
                cl = np.argmin(d, axis=1)
                b.loc[ok, "cluster"] = cl.astype(np.int32)
                b.loc[ok, "sq_dist"] = d[np.arange(len(v)), cl] + (v * v).sum(
                    axis=1
                )
            yield b

    schema = StructType(
        list(vectors.schema.fields)
        + [
            StructField("cluster", IntegerType()),
            StructField("sq_dist", DoubleType()),
        ]
    )
    return vectors.mapInPandas(assign, schema=schema)


# --- exact-integer k-means ---------------------------------------------
#
# The ENGINE-EXACT twin of kmeans_fit: inputs are integer-quantized
# (floor(double(x) * scale) — IEEE-exact, the int_scaled_vec pattern),
# partial sums are int64 (associative: ANY partitioning produces the
# same bits, unlike float sums), and centroids are re-quantized to
# integers each round with truncating division (the one op every
# engine's integer `div` agrees on). The result is bit-reproducible
# across engines, partitionings, and retries — which is what lets gates
# q89/q219 pair iterative clustering with a DuckDB oracle, and what a
# 100 TB pipeline wants anyway: re-running assignment on new data with
# stored centroids must not depend on last summer's shuffle order.
# Quantization (1/scale per coordinate per round) is noise at clustering
# granularity; use kmeans_fit when float centroids are acceptable.


def _quantize(m: np.ndarray, scale: int) -> np.ndarray:
    """floor(double(x) * scale) as int64 — the one quantization of the
    exact k-means family (IEEE-exact, the int_scaled_vec pattern)."""
    return np.floor(m.astype(np.float64) * scale).astype(np.int64)


def _trunc_div(s: np.ndarray, c) -> np.ndarray:
    """Truncating integer division (toward zero) — matches SQL's
    integer div in Spark and DuckDB; NumPy's // floors, so route
    through magnitudes."""
    s = np.asarray(s, dtype=np.int64)
    return np.sign(s) * (np.abs(s) // np.int64(c))


def _nearest_exact(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Nearest int64 centroid per int64 row, ties -> lowest cluster.

    ``|q - c|^2 = |q|^2 - 2 q.c + |c|^2`` and ``|q|^2`` is the same for
    every centroid, so the argmin of ``|c|^2 - 2 q.c`` is the argmin of
    the distance: exact int64 arithmetic on an n x k block, never the
    n x k x dim difference block."""
    return np.argmin((c * c).sum(axis=1) - 2 * (q @ c.T), axis=1)


def kmeans_fit_exact(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's iterations in exact integer arithmetic; returns the
    (k, dim) int64 centroid matrix at input scale ``scale``.

    Init = the k lowest-id vectors (cluster j is the j-th of them);
    fixed ``n_iter`` rounds (no float tolerance test — determinism over
    early exit); empty clusters keep their previous centroid. Per
    iteration: one Arrow scan emitting per-batch integer partial sums,
    one k-row shuffle, a k x dim driver update — same plan shape and
    cost as ``kmeans_fit``. NULL embeddings are dropped (kmeans_fit
    convention).

    Overflow margins (int64): per-dim |q| <= scale * max|x|; batch
    partial sums add len(batch) of them, and the assignment compares
    |c|^2 - 2 q.c, dim products of two such coordinates — all far inside
    2^63 for embedding-range inputs at the default scale.
    """
    vectors = vectors.filter(F.col(vec_col).isNotNull())
    cents = _quantize(_init_centroids(vectors, k, id_col, vec_col), scale)
    dim = cents.shape[1]
    sc = vectors.sparkSession.sparkContext
    # Scale-adaptive algorithm choice (guide §1.2): a vector set under
    # the driver_table ceiling (dim cells a row) runs all n_iter Lloyd's
    # rounds on the driver over ONE quantized matrix — the distributed
    # loop pays a scan job + k-row shuffle + collect per round for sums
    # numpy produces in milliseconds. Bit-identical by construction:
    # the same quantization, the same int64 distance/argmin, and
    # per-cluster sums that the distributed path merely splits into
    # per-batch partials (int64 addition is associative).
    tbl = driver_table(vectors.select(vec_col), dim)
    if tbl is not None:
        col = tbl[vec_col].combine_chunks()
        # one flat buffer -> (n, dim); ragged vectors are refused, as
        # np.stack on the distributed path refuses them
        if (np.diff(col.offsets.to_numpy()) != dim).any():
            raise ValueError(f"{vec_col}: every vector must have dim={dim}")
        flat = col.flatten().to_numpy(zero_copy_only=False)
        q = _quantize(flat.reshape(len(col), dim), scale)
        for _ in range(n_iter):
            assign = _nearest_exact(q, cents)
            new_cents = cents.copy()
            for cl in np.unique(assign):
                mask = assign == cl
                new_cents[cl] = _trunc_div(
                    q[mask].sum(axis=0), int(mask.sum())
                )
            cents = new_cents
        return cents
    vec_slim = vectors.select(vec_col).persist()

    for _ in range(n_iter):
        bc = sc.broadcast(cents)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for b in batches:
                if not len(b):
                    continue
                q = _quantize(np.stack(b[vec_col].to_numpy()), scale)
                assign = _nearest_exact(q, c)
                rows = []
                for cl in np.unique(assign):
                    mask = assign == cl
                    rows.append(
                        (int(cl), int(mask.sum()), q[mask].sum(axis=0).tolist())
                    )
                yield pd.DataFrame(rows, columns=["cluster", "cnt", "vecsum"])

        agg = (
            vec_slim.mapInPandas(
                partials, schema="cluster int, cnt long, vecsum array<long>"
            )
            .groupBy("cluster")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[
                    F.sum(F.element_at("vecsum", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_cents = cents.copy()
        for row in agg:
            s = np.array([row[f"s{i}"] for i in range(dim)], dtype=np.int64)
            new_cents[row["cluster"]] = _trunc_div(s, row["cnt"])
        bc.destroy()
        cents = new_cents
    vec_slim.unpersist()
    return cents


def kmeans_assign_exact(
    vectors: DataFrame,
    int_centroids: np.ndarray,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cluster`` by exact integer argmin against
    ``kmeans_fit_exact`` centroids (ties -> lowest cluster). One Arrow
    pass, no shuffle, bit-reproducible."""
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(int_centroids, dtype=np.int64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for b in batches:
            if not len(b):
                continue
            ok = b[vec_col].notna().to_numpy()
            b = b.copy()
            b["cluster"] = pd.array([None] * len(b), dtype="Int32")
            if ok.any():
                q = _quantize(np.stack(b[vec_col][ok].to_numpy()), scale)
                b.loc[ok, "cluster"] = _nearest_exact(q, c).astype(np.int32)
            yield b

    schema = StructType(
        list(vectors.schema.fields) + [StructField("cluster", IntegerType())]
    )
    return vectors.mapInPandas(assign, schema=schema)
