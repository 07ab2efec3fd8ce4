"""Distributed k-means vs an independent NumPy Lloyd's implementation,
plus clustering-quality invariants on the synthetic embeddings table
(10 planted label clusters)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.clustering import (
    kmeans_assign,
    kmeans_fit,
)
from kubenetmon_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _np_lloyd(v, k, n_iter, ids):
    order = np.argsort(ids)
    cents = v[order[:k]].astype(np.float64)
    for _ in range(n_iter):
        d = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = cents.copy()
        for c in range(k):
            m = assign == c
            if m.any():
                new[c] = v[m].mean(axis=0)
        if np.allclose(new, cents, atol=1e-12):
            cents = new
            break
        cents = new
    return cents, assign


def test_kmeans_matches_numpy_lloyd(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    v = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    got = kmeans_fit(emb, k=10, n_iter=5, tol=0.0)
    want, _ = _np_lloyd(v, k=10, n_iter=5, ids=ids)
    # same init, same deterministic argmin tie-break -> same trajectory up
    # to float partial-sum order
    assert np.allclose(np.sort(got, axis=0), np.sort(want, axis=0), atol=1e-8)


def test_kmeans_inertia_monotone(spark, emb):
    prev = None
    for n_iter in (1, 3, 6):
        cents = kmeans_fit(emb, k=10, n_iter=n_iter, tol=0.0)
        assigned = kmeans_assign(emb, cents)
        inertia = assigned.agg(F.sum("sq_dist")).collect()[0][0]
        if prev is not None:
            assert inertia <= prev + 1e-6
        prev = inertia


def test_kmeans_recovers_separated_blobs(spark):
    """On genuinely separated data, Lloyd's must recover the partition
    exactly. (The driver embeddings table is NOT separable by label —
    within-label spread ~1.0 vs between-centroid distance ~0.2 — so
    recovery is tested on constructed blobs, and the embeddings table
    only via the inertia/reference-equality tests.)"""
    rng = np.random.default_rng(7)
    k, per, dim = 5, 40, 16
    centers = rng.normal(size=(k, dim)) * 50  # blobs 50 sigma apart
    rows = []
    for c in range(k):
        for i in range(per):
            vec = centers[c] + rng.normal(size=dim)
            # interleave ids so the deterministic init (k lowest ids)
            # seeds one centroid inside each blob
            rows.append((i * k + c, [float(x) for x in vec], c))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cents = kmeans_fit(df, k=k, n_iter=10)
    assigned = kmeans_assign(df, cents).select("label", "cluster").collect()
    mapping = {}
    for r in assigned:
        mapping.setdefault(r.label, set()).add(r.cluster)
    # every true blob maps to exactly one cluster, and no two blobs share
    assert all(len(cl) == 1 for cl in mapping.values())
    assert len({next(iter(cl)) for cl in mapping.values()}) == k


def test_assign_schema_and_distance(spark, emb):
    cents = kmeans_fit(emb, k=4, n_iter=2)
    out = kmeans_assign(emb, cents)
    assert out.columns == ["vec_id", "embedding", "label", "cluster", "sq_dist"]
    sample = out.limit(5).collect()
    for r in sample:
        v = np.array(list(r.embedding), dtype=np.float64)
        d = ((cents - v) ** 2).sum(axis=1)
        assert r.cluster == int(d.argmin())
        assert r.sq_dist == pytest.approx(float(d.min()), rel=1e-6)


def test_kmeans_requires_enough_vectors(spark, emb):
    with pytest.raises(ValueError):
        kmeans_fit(emb.limit(3), k=10)


class TestKmeansExact:
    def test_matches_pure_python_reference(self, spark):
        import numpy as np

        from kubenetmon_spark.operators.clustering import (
            kmeans_assign_exact,
            kmeans_fit_exact,
        )

        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(120, 6)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        k, iters, scale = 4, 3, 10_000
        got = kmeans_fit_exact(df, k=k, n_iter=iters, scale=scale)

        # independent reference: quantize, Lloyd with trunc-div update
        q = np.floor(vecs.astype(np.float64) * scale).astype(np.int64)
        c = q[:k].copy()
        for _ in range(iters):
            d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d, axis=1)
            for j in range(k):
                m = a == j
                if m.any():
                    s = q[m].sum(axis=0)
                    c[j] = np.sign(s) * (np.abs(s) // m.sum())
        assert (got == c).all()

        assigned = {
            r.vec_id: r.cluster
            for r in kmeans_assign_exact(df, got, scale=scale).collect()
        }
        d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        ref = np.argmin(d, axis=1)
        assert all(assigned[i] == ref[i] for i in range(120))

    def test_partitioning_invariance(self, spark):
        import numpy as np

        from kubenetmon_spark.operators.clustering import kmeans_fit_exact

        rng = np.random.default_rng(3)
        rows = [
            (i, [float(x) for x in rng.normal(size=5)]) for i in range(200)
        ]
        cents = []
        for parts in (1, 9):
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).repartition(parts)
            cents.append(kmeans_fit_exact(df, k=3, n_iter=4))
        # int64 partial sums are associative: same bits, any partitioning
        assert (cents[0] == cents[1]).all()


def test_null_embeddings_survive(spark):
    # Regression: a single NULL embedding crashed the numpy reshape in
    # fit and assign. Fit drops NULLs; assign keeps the row with a NULL
    # cluster.
    import numpy as np

    from kubenetmon_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_exact,
        kmeans_fit,
        kmeans_fit_exact,
    )

    rows = [(i, [float(i % 3), float(i % 5)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = df.unionByName(
        spark.createDataFrame([(99, None)], "vec_id long, embedding array<double>")
    )
    cents = kmeans_fit(dirty, k=3, n_iter=2)
    got = {r.vec_id: r.cluster for r in kmeans_assign(dirty, cents).collect()}
    assert got[99] is None and len(got) == 31
    assert all(v is not None for k, v in got.items() if k != 99)

    icents = kmeans_fit_exact(dirty, k=3, n_iter=2)
    got_i = {
        r.vec_id: r.cluster
        for r in kmeans_assign_exact(dirty, np.asarray(icents)).collect()
    }
    assert got_i[99] is None and len(got_i) == 31


def test_kmeans_fit_exact_driver_path_identical_to_distributed(spark):
    """r8: small corpora run all Lloyd's rounds on the driver; must be
    bit-identical to the per-round distributed loop (incl. NULL
    embeddings dropped and empty-cluster carry-over)."""
    import random

    import kubenetmon_spark.operators.clustering as C
    from kubenetmon_spark import tables

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(400)
    ]
    rows[17] = (17, None)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    local = C.kmeans_fit_exact(df, k=8, n_iter=5)
    saved = tables.DRIVER_SOLVE_CELLS
    tables.DRIVER_SOLVE_CELLS = 0  # force the distributed loop
    try:
        dist = C.kmeans_fit_exact(df, k=8, n_iter=5)
    finally:
        tables.DRIVER_SOLVE_CELLS = saved
    assert np.array_equal(local, dist)
