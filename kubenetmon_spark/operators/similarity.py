"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:
- ``brute_force_topk`` — exact inner-product/cosine top-k: broadcast the
  query, fold the dot product JVM-side (zip_with + aggregate — a
  sequential, deterministic fold, no Python). The baseline and the
  correctness oracle.
- ``signlsh_topk`` — sign-LSH (random-hyperplane) bucketed search: each
  vector gets a b-bit sketch from deterministic md5-derived hyperplanes;
  candidates share the query's bucket (optionally Hamming-adjacent
  buckets); exact re-rank on candidates only. At 100 TB the bucket join
  replaces the full scan; recall is tunable via bits/probes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Deterministic double-precision dot product (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by inner product (or cosine) against ONE query vector.

    ``query`` is a 1-row DataFrame with a ``qv`` array column. Scores are
    rounded to ``round_digits`` and ties broken by id so the result is
    fully deterministic (and oracle-comparable).
    """
    joined = vectors.crossJoin(F.broadcast(query))
    score = _dot(F.col(vec_col), F.col("qv"))
    if metric == "cosine":
        # try_divide: a zero-norm vector scores NULL (sorts last)
        # instead of raising DIVIDE_BY_ZERO under ANSI mode — the same
        # degenerate-row convention as cosine_dedup_incremental
        score = F.try_divide(
            score, _norm(F.col(vec_col)) * _norm(F.col("qv"))
        )
    scored = joined.select(
        F.col(id_col), F.round(score, round_digits).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def _band_sign_matrix(dim: int, bands: int, band_bits: int):
    """Deterministic ±1 hyperplane matrix, (bands*band_bits) x dim.

    Hyperplane p, component i has sign +1 iff md5('p:i')'s first hex
    digit is >= '8' — the same fixed, engine-independent pseudo-random
    convention as :func:`_sketch_bits`, but materialized in NumPy so the
    sketch costs one BLAS matmul per Arrow batch instead of dim*bits
    interpreted SQL expressions.
    """
    import hashlib

    import numpy as np

    n_planes = bands * band_bits
    s = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0]
            s[p, i] = 1.0 if h >= "8" else -1.0
    return s


#: Above this many vectors the exact all-pairs methods refuse to run
#: without an explicit opt-in — same posture as
#: dedup.JACCARD_UNGUARDED_DOC_LIMIT: n² pair scoring is a
#: cluster-killer at scale and the engine should protect users from
#: accidentally-quadratic plans (the ClickHouse max_* limit analogue).
COSINE_EXACT_UNGUARDED_LIMIT = 10_000


def sign_band_rows(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    band_bits: int = 16,
) -> DataFrame:
    """Sign-LSH band rows ``(_id, _band, _key)`` for each vector: one
    BLAS matmul per Arrow batch against the deterministic md5-derived
    hyperplane matrix (``_band_sign_matrix``), packed into one integer
    key per band. The skinny (id, band, key) shape is what shuffles —
    the vectors themselves never ride through the band explosion.
    Shared by :func:`cosine_near_dup_pairs` (self-join candidates) and
    :func:`cosine_dedup_incremental` (persisted survivor index)."""
    import numpy as np
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    band_schema = StructType(
        [
            StructField("_id", LongType(), False),
            StructField("_band", IntegerType(), False),
            StructField("_key", LongType(), False),
        ]
    )
    n_bands, r = int(bands), int(band_bits)

    def band_gen(batches):
        import pandas as pd

        planes = {}  # dim -> sign matrix (built once per worker)
        for b in batches:
            if not len(b):
                continue
            # degenerate rows (NULL/empty embeddings) must never kill a
            # continuous dedup stream: drop them here — a NULL vector
            # has no direction, so it can never band-collide anyway
            # (the zero-NORM case downstream is try_divide-guarded)
            ok = b[vec_col].map(
                lambda x: x is not None and len(x) > 0
            )
            b = b[ok]
            if not len(b):
                continue
            ids = b[id_col].to_numpy(dtype="int64")
            v = np.stack([np.asarray(x, dtype="float64") for x in b[vec_col]])
            dim = v.shape[1]
            if dim not in planes:
                planes[dim] = _band_sign_matrix(dim, n_bands, r)
            bits = (v @ planes[dim].T) > 0  # (n, bands*r) booleans
            keys = np.zeros((len(ids), n_bands), dtype=np.int64)
            for p in range(n_bands * r):
                keys[:, p // r] |= bits[:, p].astype(np.int64) << (p % r)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, n_bands),
                    "_band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(ids)
                    ),
                    "_key": keys.reshape(-1),
                }
            )

    return vectors.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        band_gen, band_schema
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold_bp: int = 9500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    bands: int = 16,
    band_bits: int = 16,
    unsafe_exact: bool = False,
    unguarded_limit: int = COSINE_EXACT_UNGUARDED_LIMIT,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (i<j, scored as
    round(cosine,4)*10000 >= threshold_bp).

    **Exactness depends on ``method``.** ``'sql'`` and
    ``'broadcast_matrix'`` are exact: they return ALL qualifying pairs.
    The default ``'lsh'`` is **approximate with quantified recall** (see
    below): scores are exact for every pair it emits (its output is
    always a subset of the exact answer — candidates are re-ranked with
    the exact formula), and exact-direction duplicates (cosine 1.0) are
    never missed, but a borderline pair can be deterministically missed
    if it collides on no band. Callers needing the exact answer on a
    corpus small enough to afford it must pass an exact method.

    **Scale boundary (enforced).** The exact methods are O(n²): above
    ``unguarded_limit`` vectors they refuse to run unless the caller
    opts in with ``unsafe_exact=True`` (mirroring
    :func:`~kubenetmon_spark.operators.dedup.jaccard_pairs`). The LSH
    default has no such limit — banded candidates keep it near-linear.

    ``method='lsh'`` (default): **sign-LSH banded candidate
    generation + exact blocked re-rank — fully distributed, no driver
    collect.** Each vector gets ``bands`` band keys (``band_bits`` sign
    bits per band, deterministic md5-derived hyperplanes, computed with
    one BLAS matmul per Arrow batch); candidate pairs are rows agreeing
    on ANY band key — a plain equi self-join on (band, key), exactly the
    MinHash-LSH shape of operators/dedup.py. Only candidates are scored
    (vectorized, Arrow-batched), with the identical HALF_UP double-op
    sequence as the oracle.

    Recall: a pair at cosine c survives a band with prob p^band_bits,
    p = 1 − arccos(c)/π; missing ALL bands has prob (1−p^r)^bands.
    Exact duplicates (cosine 1.0) are NEVER missed — every band key
    agrees. At the 16×16 default, borderline 0.95 pairs are found with
    ~96% probability and 0.97 pairs with ~99.4%; raise ``bands`` for a
    tighter tail (each band adds one skinny corpus copy of shuffle).
    The bits/bands pair also sets candidate volume: random unrelated
    pairs collide per band with ~2^-band_bits probability, so expected
    candidates ≈ bands · n² / 2^band_bits — at 16 bits that is n²/4096,
    which is what keeps the re-rank off the full pair space.

    ``method='broadcast_matrix'``: exact — the O(n²) block-row matrix
    multiply — the corpus matrix is COLLECTED TO THE DRIVER, normalized,
    and broadcast; each Arrow batch computes ``V_block @ M.T`` with
    BLAS. Fastest for small corpora (≲ a few hundred MB of vectors);
    the driver/executor memory ceiling makes it unusable at 100 TB —
    use the default instead.

    ``method='sql'``: exact — the pure-DataFrame self-join baseline (no
    Python, no driver collect) — the form the DuckDB oracle mirrors
    expression for expression. O(n²) comparisons: fine for oracle-scale
    corpora, not a 100 TB path.

    Returns (id_1, id_2, cosine_bp) with cosine in integer basis points.
    Rounding is HALF_UP at 4 decimals in all methods, via the SAME
    shortest-decimal-representation semantics (Spark BigDecimal /
    Python Decimal(repr)), so the double -> bp mapping is identical
    everywhere. Precision scope, stated honestly: the lsh/
    broadcast_matrix DOT PRODUCT uses BLAS/pairwise summation while
    'sql' folds sequentially, so the two can differ in the final ulp
    of the cosine — a pair flips 1 bp across methods only when its
    true cosine sits within ~1 ulp of an exact x.xxxx5 boundary
    (probability ~1e-12 per pair on real-valued embeddings; the
    integer-arithmetic operators elsewhere exist precisely because
    float folds are order-sensitive).
    """
    if method in ("sql", "broadcast_matrix") and not unsafe_exact:
        n_vecs = vectors.select(id_col).count()
        if n_vecs > unguarded_limit:
            raise ValueError(
                f"cosine_near_dup_pairs: {n_vecs} vectors exceeds the "
                f"unguarded limit ({unguarded_limit}) for exact "
                f"all-pairs method {method!r}. Use the default "
                "method='lsh' (banded candidates, exact re-rank) at "
                "scale, or force the quadratic plan with "
                "unsafe_exact=True."
            )
    if method == "sql":
        # fanout: a single-split vector table otherwise runs the O(n^2)
        # pair scoring on one core — measured 3.1s -> 0.8s warm for the
        # bounded panel at sf0.1 (no-op when splits >= cores). ONLY the
        # sql branch: the Arrow-staged methods (lsh/broadcast_matrix)
        # pay a Python-worker round-trip PER TASK, so fanning a small
        # corpus out 32 ways costs more than the BLAS it parallelizes
        # (A/B'd: q273 1.19s -> 2.05s with an unconditional fanout).
        from kubenetmon_spark.tables import fanout

        vectors = fanout(vectors)
        norm = vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_n"),
        )
        a, b = norm.alias("a"), norm.alias("b")
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
        # try_divide: zero-norm vectors yield NULL cosine (dropped by
        # the threshold filter) rather than an ANSI DIVIDE_BY_ZERO
        cos = F.try_divide(
            _dot(F.col("a._v"), F.col("b._v")),
            F.col("a._n") * F.col("b._n"),
        )
        return (
            pairs.select(
                F.col("a._id").alias("id_1"),
                F.col("b._id").alias("id_2"),
                (F.round(cos, 4) * 10000).cast("long").alias("cosine_bp"),
            )
            .filter(F.col("cosine_bp") >= threshold_bp)
        )

    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    pair_schema = StructType(
        [
            StructField("id_1", LongType(), False),
            StructField("id_2", LongType(), False),
            StructField("cosine_bp", LongType(), False),
        ]
    )

    def _bp_halfup(s: "np.ndarray") -> "np.ndarray":
        # EXACT replication of Spark's round(cos, 4)*10000 CAST LONG:
        # Spark rounds via BigDecimal.valueOf(double) — the SHORTEST
        # decimal representation (Double.toString) — then HALF_UP.
        # Python's repr(float) is the same shortest round-trip string,
        # so Decimal(repr(x)) sees the identical digits. A plain
        # floor(|x|*1e4+0.5) differs for doubles whose shortest repr
        # ends in ...5 beyond the 4th decimal (e.g. 0.26745 as a
        # double slightly below the rational — HALF_UP on the STRING
        # rounds up, the float multiply rounds down). The Python loop
        # runs only over the CANDIDATE pairs (already a tiny fraction
        # of the pair space), after the vectorized dot.
        import decimal

        q = decimal.Decimal("0.0001")

        def one(x: float) -> int:
            return int(
                decimal.Decimal(repr(float(x))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
                * 10000
            )

        arr = np.asarray(s, dtype="float64")
        flat = arr.ravel()
        out = np.fromiter(
            (one(x) for x in flat), dtype="int64", count=flat.size
        )
        return out.reshape(arr.shape)

    if method == "broadcast_matrix":
        spark = vectors.sparkSession
        pdf = vectors.select(F.col(id_col), F.col(vec_col)).toPandas()
        ids = pdf[id_col].to_numpy(dtype="int64")
        m = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((ids, m))

        def gen(batches):
            import pandas as pd

            all_ids, full = bc.value
            for b in batches:
                row_ids = b[id_col].to_numpy(dtype="int64")
                v = np.stack(
                    [np.asarray(x, dtype="float64") for x in b[vec_col]]
                )
                v = v / np.linalg.norm(v, axis=1, keepdims=True)
                bp = _bp_halfup(v @ full.T)
                keep = (bp >= threshold_bp) & (
                    row_ids[:, None] < all_ids[None, :]
                )
                i, j = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_1": row_ids[i],
                        "id_2": all_ids[j],
                        "cosine_bp": bp[i, j],
                    }
                )

        return vectors.mapInPandas(gen, pair_schema)

    if method not in ("lsh", "blocked"):  # 'blocked' = legacy alias
        raise ValueError(f"unknown method {method!r}")

    # --- default: sign-LSH banded candidates + exact Arrow re-rank ----
    #
    # Three stages, each shuffling only what it must:
    # 1. sketch pass emits SKINNY (id, band, key) rows — the 64-dim
    #    vectors never ride through the band explosion;
    # 2. candidate pairs = equi self-join on (band, key) + dedup —
    #    ids only, so even a hot bucket shuffles longs, not arrays;
    # 3. the surviving candidate ids join back to the vectors table
    #    (AQE picks broadcast vs shuffle by size) for the exact
    #    Arrow-batched re-rank.
    n_bands, r = int(bands), int(band_bits)
    banded = sign_band_rows(vectors, id_col, vec_col, n_bands, r)
    a = banded.alias("a")
    b = banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_1"), F.col("b._id").alias("id_2"))
        # a pair agreeing on several bands appears once per band — keep one
        .dropDuplicates(["id_1", "id_2"])
    )
    v1 = vectors.select(
        F.col(id_col).alias("id_1"), F.col(vec_col).alias("v1")
    )
    v2 = vectors.select(
        F.col(id_col).alias("id_2"), F.col(vec_col).alias("v2")
    )
    cand = cand_ids.join(v1, "id_1").join(v2, "id_2")

    def score(batches):
        import pandas as pd

        for b2 in batches:
            if not len(b2):
                continue
            v1 = np.stack([np.asarray(x, dtype="float64") for x in b2["v1"]])
            v2 = np.stack([np.asarray(x, dtype="float64") for x in b2["v2"]])
            cos = np.einsum("ij,ij->i", v1, v2) / (
                np.linalg.norm(v1, axis=1) * np.linalg.norm(v2, axis=1)
            )
            bp = _bp_halfup(cos)
            keep = bp >= threshold_bp
            yield pd.DataFrame(
                {
                    "id_1": b2["id_1"].to_numpy(dtype="int64")[keep],
                    "id_2": b2["id_2"].to_numpy(dtype="int64")[keep],
                    "cosine_bp": bp[keep],
                }
            )

    return cand.mapInPandas(score, pair_schema)


def cosine_dedup_incremental(
    batch: DataFrame,
    index_bands: DataFrame | None,
    index_vectors: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_bp: int = 9500,
    bands: int = 16,
    band_bits: int = 16,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Embedding near-duplicate dedup of a NEW batch against a
    persisted sign-LSH survivor index — the semantic-space twin of
    :func:`~kubenetmon_spark.operators.dedup.minhash_dedup_incremental`
    (same continuous-crawl shape, streamed by
    streaming/curation.py::start_cosine_dedup_stream): each arriving
    batch is checked against everything already kept without ever
    re-banding the corpus. Both run the same survivor-index step
    (``dedup._survivor_index``); only the banding and the verifier
    differ.

    Returns ``(survivors, new_bands, new_vectors)``: survivors are the
    batch rows to keep; their band rows and vectors are the caller's
    index delta. Index schemas: ``index_bands (_id, _band, _key)``,
    ``index_vectors (_id, _v)``.

    Drop rule (deterministic, identical to the MinHash twin): a batch
    doc drops iff its EXACT cosine (round(cos,4)*10000, the q27/q273
    arithmetic) >= ``threshold_bp`` against (a) any indexed survivor or
    (b) any smaller-id doc within its own batch. Candidates come only
    from band-key equi-joins, so recall follows
    :func:`cosine_near_dup_pairs`'s LSH contract: emitted drops are
    always TRUE near-dups (exact re-verify), exact-direction duplicates
    are never missed, borderline pairs carry the quantified band-miss
    probability.

    Scale posture: per batch, one banding scan (Arrow matmul) + skinny
    id-only candidate joins (batch x batch and batch x index) + exact
    re-rank on candidates only. Index growth is survivors-only: `bands`
    rows/doc of longs plus one vector row/doc."""
    from kubenetmon_spark.operators.dedup import _survivor_index

    banded = sign_band_rows(
        batch, id_col, vec_col, bands, band_bits
    ).localCheckpoint(eager=True)
    bv = batch.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    )

    # try_divide: a zero-norm (all-zero) vector yields NULL cosine, so
    # the >= threshold filter treats it as "no match" and the row
    # SURVIVES — a hostile/degenerate row must never crash a continuous
    # stream (ANSI mode makes bare division throw DIVIDE_BY_ZERO, which
    # would kill the whole streaming query on one bad vector)
    cos = F.try_divide(
        _dot(F.col("_v1"), F.col("_v2")),
        _norm(F.col("_v1")) * _norm(F.col("_v2")),
    )

    def verify(pairs, vec1_src):
        """candidate pairs whose exact cosine(id_1, id_2) >= thr."""
        return (
            pairs.join(
                vec1_src.select(
                    F.col("_id").alias("id_1"), F.col("_v").alias("_v1")
                ),
                "id_1",
            )
            .join(
                bv.select(F.col("_id").alias("id_2"), F.col("_v").alias("_v2")),
                "id_2",
            )
            .filter(
                (F.round(cos, 4) * 10000).cast("long") >= F.lit(threshold_bp)
            )
        )

    return _survivor_index(
        batch, id_col, banded, bv, index_bands, index_vectors, verify
    )


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by inner product.

    Deterministic flat IVF: the first ``n_centroids`` vectors by id act as
    centroids (a fixed "init" — no iterative k-means, so the oracle can
    reproduce the exact partition). Every vector is assigned to its
    max-inner-product centroid (ties -> lowest centroid id); the query
    probes its ``n_probe`` best centroids and re-ranks exactly only within
    those inverted lists.

    Scale path: the assignment is one broadcast join + max_by over
    ``n_centroids`` candidates per row and can be precomputed/persisted as
    a partition column, making the probe a partition-pruned scan of
    n_probe/n_centroids of the data.
    """
    centroids = F.broadcast(
        vectors.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")
        )
    )
    assigned = (
        vectors.join(centroids)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_cid"),
            F.round(_dot(F.col(vec_col), F.col("_cv")), 6).alias("_cscore"),
        )
        .groupBy(id_col, vec_col)
        .agg(F.max_by(F.col("_cid"), F.struct(F.col("_cscore"), -F.col("_cid"))).alias("_cid"))
    )
    probes = (
        query.crossJoin(centroids)
        .select(
            F.col("qv"),
            F.col("_cid"),
            F.round(_dot(F.col("qv"), F.col("_cv")), 6).alias("_qscore"),
        )
        .orderBy(F.desc("_qscore"), F.col("_cid"))
        .limit(n_probe)
        .select("qv", "_cid")
    )
    cands = assigned.join(F.broadcast(probes), "_cid", "inner")
    scored = cands.select(
        F.col(id_col), F.round(_dot(F.col(vec_col), F.col("qv")), round_digits).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def build_ivf_index(
    vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> None:
    """Persist the IVF index ``ivf_topk`` recomputes per call — the ANN
    SERVING shape: assignments land as parquet PARTITIONED BY centroid,
    so a probe is a partition-pruned scan of n_probe/n_centroids of the
    data (the scan's PartitionFilters carry the probe list — asserted in
    test_plans.py), with the corpus embedded once, searched many times.

    Same deterministic contract as ``ivf_topk`` (first n_centroids ids
    as centroids; max round(dot,6) assignment, ties -> lowest centroid
    id), so a persisted-index search returns exactly what the inline
    form and the q28 SQL oracle return.

    Layout: ``<index_path>/assignments/centroid=<cid>/`` (id, vector),
    ``<index_path>/centroids/`` (cid, vector).
    """
    centroids = F.broadcast(
        vectors.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")
        )
    )
    assigned = (
        vectors.join(centroids)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_cid"),
            F.round(_dot(F.col(vec_col), F.col("_cv")), 6).alias("_cscore"),
        )
        .groupBy(id_col, vec_col)
        .agg(
            F.max_by(
                F.col("_cid"), F.struct(F.col("_cscore"), -F.col("_cid"))
            ).alias("centroid")
        )
    )
    # pinned STATIC (the inverse of the sink rewrites' dynamic pin):
    # this is a whole-index REBUILD, and under the engine's default
    # dynamic session a rebuild with fewer centroids would leave the
    # dropped centroids' stale assignment partitions on disk — every
    # later search would keep surfacing their vectors.
    assigned.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("centroid").parquet(f"{index_path}/assignments")
    centroids.select(
        F.col("_cid").alias("cid"), F.col("_cv").alias("cv")
    ).write.mode("overwrite").parquet(f"{index_path}/centroids")


def ivf_search(
    spark,
    index_path: str,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Query a ``build_ivf_index`` index: score the query against the
    (small, broadcastable) centroid table, pick the ``n_probe`` best
    centroid ids on the driver (n_probe scalars — the bounded collect
    that BUYS partition pruning: literal partition values reach the
    file index, non-probed centroid directories are never opened), then
    exact-re-rank only the probed partitions."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    probe_rows = (
        query.crossJoin(F.broadcast(cents))
        .select(
            F.col("qv"),
            F.col("cid"),
            F.round(_dot(F.col("qv"), F.col("cv")), 6).alias("_qs"),
        )
        .orderBy(F.desc("_qs"), F.col("cid"))
        .limit(n_probe)
        .select("cid")
        .collect()
    )
    probes = [r.cid for r in probe_rows]
    cand = spark.read.parquet(f"{index_path}/assignments").filter(
        F.col("centroid").isin(probes)
    )
    scored = cand.crossJoin(F.broadcast(query)).select(
        F.col(id_col),
        F.round(_dot(F.col(vec_col), F.col("qv")), round_digits).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def ivf_search_many(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    round_digits: int = 4,
) -> DataFrame:
    """Batch form of ``ivf_search``: many queries against one persisted
    index in a single pruned scan. Per-query probes are ranked
    DISTRIBUTED (window over qid); only the UNION of probe ids — at
    most n_probe × n_queries scalars, usually far fewer after dedup —
    collects to the driver to become literal PartitionFilters. Scoring
    then broadcasts the query batch onto the pruned scan and takes
    top-k per query with one window. Returns (qid, vec_id, score)."""
    from pyspark.sql.window import Window

    cents = F.broadcast(spark.read.parquet(f"{index_path}/centroids"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("_qs"), F.col("cid"))
    probes = (
        queries.crossJoin(cents)
        .select(
            F.col(qid_col),
            F.col("cid"),
            F.round(_dot(F.col(qvec_col), F.col("cv")), 6).alias("_qs"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select(qid_col, "cid")
    )
    probe_ids = [r.cid for r in probes.select("cid").distinct().collect()]
    cand = spark.read.parquet(f"{index_path}/assignments").filter(
        F.col("centroid").isin(probe_ids)
    )
    # each query scores only ITS probed lists (join on (centroid, qid)
    # via the probe table), so overlapping probes across queries are
    # shared in the scan but not over-scored
    scored = (
        cand.join(
            F.broadcast(
                probes.join(queries, qid_col).select(
                    F.col(qid_col), F.col("cid").alias("centroid"), F.col(qvec_col)
                )
            ),
            "centroid",
        )
        .select(
            F.col(qid_col),
            F.col(id_col),
            F.round(_dot(F.col(vec_col), F.col(qvec_col)), round_digits).alias(
                "score"
            ),
        )
    )
    wk = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_index_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance of a ``build_ivf_index`` index: assign a
    NEW batch of vectors to the EXISTING persisted centroids (the
    structure is fixed — that is the point of an append; recentroiding
    is a rebuild) and append them to the partitioned assignment layout.
    A search after the append returns exactly what a fresh full-corpus
    build would: assignment is a pure function of (vector, centroids),
    so append order never matters.

    Cost is O(new batch): one broadcast of the centroid table onto the
    new rows and a partitioned append touching only the directories the
    batch lands in. The corpus is never rescanned. Pair with
    ``ivf_index_stats`` to detect when drift (one list absorbing the
    growth) warrants a rebuild."""
    cents = F.broadcast(
        spark.read.parquet(f"{index_path}/centroids").select(
            F.col("cid").alias("_cid"), F.col("cv").alias("_cv")
        )
    )
    assigned = (
        new_vectors.select(F.col(id_col), F.col(vec_col))
        .join(cents)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_cid"),
            F.round(_dot(F.col(vec_col), F.col("_cv")), 6).alias("_cscore"),
        )
        .groupBy(id_col, vec_col)
        .agg(
            F.max_by(
                F.col("_cid"), F.struct(F.col("_cscore"), -F.col("_cid"))
            ).alias("centroid")
        )
    )
    assigned.write.mode("append").partitionBy("centroid").parquet(
        f"{index_path}/assignments"
    )


def ivf_index_stats(spark, index_path: str) -> DataFrame:
    """Per-centroid list sizes of a persisted IVF index — the drift
    monitor for the append path (a list absorbing most growth degrades
    probe selectivity; rebuild when the max/mean ratio drifts). One
    count over the partitioned layout; partition pruning and parquet
    row-group counts keep it metadata-cheap."""
    return (
        spark.read.parquet(f"{index_path}/assignments")
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("centroid")
    )


def _sketch_bits(vec: Column, dim: int, bits: int) -> Column:
    """b-bit sign sketch with deterministic pseudo-random hyperplanes.

    Hyperplane p, component i has sign +1 iff md5('p:i') first hex digit
    is >= '8' — a fixed, engine-independent pseudo-random sign matrix.
    """
    total = F.lit(0).cast("long")
    for p in range(bits):
        acc = F.lit(0.0)
        # fold: sum_i sign(p,i) * vec[i]
        signs = F.array(*[
            F.when(
                F.expr(f"substring(md5('{p}:' || {i}), 1, 1)").isin(
                    *"89abcdef"
                ),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            for i in range(dim)
        ])
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        total = total + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return total


def signlsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: restrict the exact re-rank to vectors whose
    sign-LSH bucket matches the query's (single-probe).

    Scale path: the sketch is computed once per vector (a linear scan,
    cacheable/materializable as a column), and the query probe is an
    equi-join on the bucket.
    """
    sk = vectors.withColumn("_bucket", _sketch_bits(F.col(vec_col), dim, bits))
    qk = query.withColumn("_bucket", _sketch_bits(F.col("qv"), dim, bits))
    cands = sk.join(F.broadcast(qk), "_bucket", "inner")
    scored = cands.select(
        F.col(id_col), F.round(_dot(F.col(vec_col), F.col("qv")), round_digits).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8-range quantization: q_i = floor(x_i*127/max|x| + 0.5).

    At 100 TB the embedding column IS the table (64 dims x 4 bytes ≫ the
    id); int8 quantization cuts it 4x and turns similarity arithmetic
    into integer ops. The rounding is floor(x+0.5) — "half toward +inf"
    — because ROUND() disagrees between engines (half-even vs half-away)
    while floor is identical everywhere; an all-zero vector quantizes to
    zeros (scale 0 guard). Arrow-batched NumPy, not SQL higher-order
    funcs, per the interpreted-HOF rule; a scan-side projection with no
    shuffle.
    """
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(out_col, ArrayType(LongType()), True),
            StructField(scale_col, DoubleType(), True),
        ]
    )

    def quant(batches):
        for b in batches:
            qs, scales = [], []
            for v in b[vec_col]:
                if v is None or len(v) == 0:
                    qs.append(None)
                    scales.append(None)
                    continue
                x = np.asarray(v, dtype=np.float64)
                ma = float(np.max(np.abs(x)))
                if ma == 0.0:
                    qs.append(np.zeros(len(x), dtype=np.int64))
                else:
                    qs.append(np.floor(x * 127.0 / ma + 0.5).astype(np.int64))
                scales.append(ma / 127.0)
            b[out_col] = qs
            b[scale_col] = scales
            yield b

    return df.mapInPandas(quant, out_schema)


def quantized_topk(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Integer top-k: quantize corpus + query, rank by int64 dot product.

    Exact given the quantized vectors (no float accumulation order
    effects — integer addition is associative), so the result is
    engine-reproducible bit-for-bit. Plan: quantize (scan-side), one
    Arrow pass for the dot products against the broadcast quantized
    query, then a k-row sort. The only shuffle is the final top-k.
    """
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    q = quantize_embeddings(df, vec_col)
    qrow = q.filter(F.col(id_col) == query_id).select("q_embedding").collect()
    if not qrow:
        raise ValueError(f"query id {query_id} not found")
    qv = np.asarray(qrow[0][0], dtype=np.int64)

    out_schema = StructType(
        [StructField(id_col, LongType(), True), StructField("iscore", LongType(), True)]
    )

    def score(batches):
        import pandas as pd

        for b in batches:
            m = np.stack([np.asarray(v, dtype=np.int64) for v in b["q_embedding"]])
            yield pd.DataFrame({id_col: b[id_col], "iscore": m @ qv})

    return (
        q.filter(F.col(id_col) != query_id)
        .select(id_col, "q_embedding")
        .mapInPandas(score, out_schema)
        .orderBy(F.desc("iscore"), F.asc(id_col))
        .limit(k)
    )


def int_scaled_vec(vec: Column, scale: int = 1_000_000) -> Column:
    """float32 embedding -> integer-scaled BIGINT vector:
    ``floor(double(x) * scale)``. The float32->double widening and the
    single multiply are IEEE-exact, so every engine lands on the same
    integers — the foundation of the exact distance surface below.
    """
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale).cast("bigint")
    )


def dot_product_int(a: Column, b: Column) -> Column:
    """ClickHouse ``dotProduct`` over integer-scaled vectors — exact."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def l2_squared_int(a: Column, b: Column) -> Column:
    """ClickHouse ``L2SquaredDistance`` over integer-scaled vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_similarity_bp(a: Column, b: Column) -> Column:
    """ClickHouse ``cosineDistance`` complement in basis points:
    ``floor(dot * 10000 / (sqrt(|a|²) * sqrt(|b|²)))``.

    The integer dot/norms are exact; the three float steps (two
    correctly-rounded sqrts, one multiply, one divide) are IEEE-
    deterministic, so the floored bp value is engine-portable as long
    as the oracle writes the SAME expression shape. Zero-norm inputs
    yield 0.
    """
    dot = dot_product_int(a, b)
    na = dot_product_int(a, a)
    nb = dot_product_int(b, b)
    return F.when((na == 0) | (nb == 0), F.lit(0)).otherwise(
        F.floor(
            (dot.cast("double") * 10000.0)
            / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
        )
    ).cast("bigint")


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch kNN JOIN: for EVERY query row, the top-k corpus neighbors
    by inner product — the all-pairs form of ``ivf_topk``.

    Exact-integer scoring: both sides are integer-scaled
    (``int_scaled_vec``), so every dot product is a BIGINT and the
    result is engine-reproducible (ties broken by neighbor id).

    IVF structure (deterministic flat init: first ``n_centroids``
    corpus ids are the centroids, assignment = max inner product with
    ties to the lowest centroid):

    - corpus assignment: one broadcast join + per-row argmax, then the
      corpus shuffles ONCE on its centroid id — at 100 TB this is the
      partition layout you persist, making later joins co-located;
    - each query explodes to its ``n_probe`` best centroids (broadcast
      centroids, rank per query — queries never see the corpus yet);
    - candidates = probe x inverted-list equi-join on the centroid id
      (the ONLY corpus-sized shuffle consumer; skewed hot centroids are
      AQE-split), scored JVM-side with a zip_with fold;
    - per-query top-k = one row_number window on (query, -score).

    Recall/cost dial: n_probe/n_centroids of the corpus is scored per
    query instead of all of it.
    """
    from pyspark.sql.window import Window

    c = corpus.select(
        F.col(id_col).alias("nbr_id"), int_scaled_vec(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), int_scaled_vec(F.col(vec_col)).alias("qv")
    )
    cents = F.broadcast(
        c.filter(F.col("nbr_id") < n_centroids).select(
            F.col("nbr_id").alias("cid"), F.col("cv").alias("centv")
        )
    )
    cscore = dot_product_int(F.col("cv"), F.col("centv"))
    assigned = (
        c.join(cents)
        .select("nbr_id", "cv", "cid", cscore.alias("_s"))
        .groupBy("nbr_id", "cv")
        .agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("_s"), -F.col("cid"))
            ).alias("cid")
        )
    )
    qscore = dot_product_int(F.col("qv"), F.col("centv"))
    wprobe = Window.partitionBy("qid").orderBy(
        F.desc("_qs"), F.col("cid")
    )
    probes = (
        q.join(cents)
        .select("qid", "qv", "cid", qscore.alias("_qs"))
        .withColumn("_rn", F.row_number().over(wprobe))
        .filter(F.col("_rn") <= n_probe)
        .select("qid", "qv", "cid")
    )
    cands = probes.join(assigned, "cid").filter(
        F.col("nbr_id") != F.col("qid")
    )
    scored = cands.select(
        "qid",
        "nbr_id",
        dot_product_int(F.col("qv"), F.col("cv")).alias("score"),
    )
    wtop = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.col("nbr_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wtop))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            "nbr_id",
            "score",
            F.col("_rn").alias("rank"),
        )
    )


def l1_distance_int(a: Column, b: Column) -> Column:
    """ClickHouse ``L1Distance`` over integer-scaled vectors — exact."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def linf_distance_int(a: Column, b: Column) -> Column:
    """ClickHouse ``LinfDistance`` over integer-scaled vectors — exact."""
    return F.array_max(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def covariance_matrix_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Exact n-scaled covariance matrix of an embedding column — the
    input to PCA / whitening / Mahalanobis, computed as integers so
    every engine agrees bit-for-bit.

    Vectors are int-scaled (``int_scaled_vec``), then each row emits
    its upper-triangle outer-product terms (d(d+1)/2 per row) and one
    grouped sum produces S_ij = Σ q_i q_j; per-dimension sums S_i come
    from the same exploded stream's diagonal-free projection. Output
    rows (i, j, n, s_ij, cov_num) with
        cov_num = n*S_ij − S_i*S_j     (scale²·n² units, exact).

    Scale posture: the explode is d(d+1)/2 rows per vector — quadratic
    in DIMENSION, linear in rows; one hash-agg shuffle whose key space
    is the fixed 2080 cells, so map-side combine collapses almost
    everything before the exchange. For 100 TB corpora compute on a
    deterministic hash sample (operators/sampling.py) — the estimate
    converges long before the full pass matters.

    Overflow: |q| ≤ scale, so cov_num ≤ n²·scale² — keep n·scale
    under ~3e9 (e.g. 1e6 rows at scale 1000) or pre-scale down.
    """
    # fanout: the 2080-terms-per-row explode below is the CPU-heavy map
    # stage and the corpus often arrives as fewer splits than cores
    # (no-op once splits >= cores — tables.fanout); both aggregations
    # read this one scaled frame, so the dim-sums pass no longer
    # re-scans and re-scales the base column (r7)
    from kubenetmon_spark.tables import fanout

    q = fanout(df.select(int_scaled_vec(F.col(vec_col), scale).alias("q")))
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dims - 1)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(dims - 1)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at(F.col("q"), i + 1)
                                * F.element_at(F.col("q"), j + 1)
                            ).alias("xy"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xy")
    s_ij = pairs.groupBy("i", "j").agg(
        F.sum("xy").alias("s_ij"), F.count("*").alias("n")
    )
    dim_sums = (
        q.select(F.posexplode(F.col("q")))
        .groupBy("pos")
        .agg(F.sum("col").alias("s"))
    )
    si = dim_sums.select(F.col("pos").alias("i"), F.col("s").alias("s_i"))
    sj = dim_sums.select(F.col("pos").alias("j"), F.col("s").alias("s_j"))
    return (
        s_ij.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n"),
            F.col("s_ij").cast("long").alias("s_ij"),
            (
                F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")
            ).cast("long").alias("cov_num"),
        )
    )


def hard_negative_mining(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard negatives for contrastive training: per query, the top-k
    corpus vectors by cosine whose ``label_col`` DIFFERS from the
    query's — the "similar but wrong" examples a retrieval/embedding
    model learns the most from (in-batch random negatives are too
    easy; the near-misses define the decision boundary).

    Output: (qid, id, cosine_bp, rk) with rk 1..k. Deterministic:
    ranking on integer ``cosine_bp`` (= round(cos*10000), the q309
    scaled-before-rounding convention) with id tie-break.

    Scale posture: the query panel broadcasts (queries are a probe
    set, not a second corpus), the corpus scans ONCE — the per-query
    top-k is a rank window Spark executes as WindowGroupLimit (partial
    top-k inside each task before the single (qid) shuffle of
    surviving candidates), never a global sort. For corpus-x-corpus
    mining, compose with the persisted IVF index instead
    (build_ivf_index + ivf_search_many, then anti-join positives).
    """
    q = queries.select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        F.col(label_col).alias("_qlabel"),
    )
    c = vectors.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        F.col(label_col).alias("_clabel"),
    )
    cos = F.try_divide(
        _dot(F.col("_cv"), F.col("_qv")),
        _norm(F.col("_cv")) * _norm(F.col("_qv")),
    )
    scored = (
        c.join(F.broadcast(q), F.col("_clabel") != F.col("_qlabel"))
        .select(
            F.col("_qid").alias("qid"),
            F.col("_cid").alias(id_col),
            F.round(cos * F.lit(10000.0), 0).cast("long").alias("cosine_bp"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine_bp"), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
