"""Benchmark decontamination: n-gram containment of eval-set documents
inside corpus documents.

Dedup (operators/dedup.py) asks "are these two corpus docs the same?"
— a symmetric Jaccard question. Decontamination is the asymmetric one a
training pipeline must also answer: "how much of THIS benchmark item
appears inside THAT training document?" — containment = |shared
shingles| / |benchmark shingles|, so a 50-token eval question fully
quoted inside a 10k-token web page still scores 10000 bp where Jaccard
would vanish.

Scale posture: the benchmark side is an eval suite — thousands of docs,
not billions — so its shingle set is broadcast and the corpus-side scan
joins against it with **zero corpus shuffle**; the only exchange is the
per-(corpus doc, benchmark doc) count aggregation over rows that
actually matched a benchmark shingle (rare by construction). The
shingling itself reuses ``shingle_set`` (JVM-side; identical shingle
bytes to the dedup/oracle convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kubenetmon_spark.operators.dedup import shingle_set


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_bp: int = 2500,
) -> DataFrame:
    """(corpus_id, bench_id, shared, bench_total, containment_bp) for
    pairs whose containment >= threshold_bp. Integer basis points
    (floor), so results are engine-exact."""
    # fanout the CORPUS side only: a single-split corpus serializes the
    # shingle stage and the broadcast-join map side on one core
    # (tables.fanout — no-op at scale). The benchmark side stays at its
    # natural layout — it is tiny and broadcasts.
    from kubenetmon_spark.tables import fanout

    c_sh = shingle_set(fanout(corpus), id_col, text_col, n).select(
        F.col("_id").alias("corpus_id"), "shingle"
    )
    b_sh = shingle_set(benchmark, id_col, text_col, n).select(
        F.col("_id").alias("bench_id"), "shingle"
    )
    b_sizes = b_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_total"))
    inter = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(F.broadcast(b_sizes), "bench_id")
        .withColumn(
            "containment_bp", F.expr("shared * 10000 DIV bench_total")
        )
        .filter(F.col("containment_bp") >= threshold_bp)
        .select("corpus_id", "bench_id", "shared", "bench_total", "containment_bp")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_bp: int = 2500,
) -> DataFrame:
    """Corpus minus every document containing >= threshold of ANY
    benchmark item — the actual pipeline step (anti-join on the flagged
    ids; the flagged set is tiny and broadcasts)."""
    flagged = (
        contamination_pairs(corpus, benchmark, id_col, text_col, n, threshold_bp)
        .select(F.col("corpus_id").alias("_flagged_id"))
        .distinct()
    )
    return corpus.join(
        F.broadcast(flagged),
        corpus[id_col] == F.col("_flagged_id"),
        "left_anti",
    )


def embedding_contamination_pairs(
    corpus_vecs: DataFrame,
    benchmark_vecs: DataFrame,
    threshold_bp: int = 9500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    max_benchmark: int | None = 100_000,
    bands: int = 16,
    band_bits: int = 16,
) -> DataFrame:
    """Embedding-space decontamination: (corpus_id, bench_id, cosine_bp)
    for every corpus vector whose cosine to a benchmark vector clears
    ``threshold_bp`` — the semantic twin of the n-gram containment
    check above (a paraphrased eval item shares no shingles but sits on
    top of the training doc in embedding space).

    ``method='exact'`` (default; exactness contract:
    round(cosine*10000) >= threshold_bp — scaled BEFORE rounding, so
    the integer cast sees an exact integer double in every engine
    (round-then-scale truncates vs rounds differently across engines
    at .xxx5 boundaries); NULL-cosine zero-norm vectors never match): the benchmark side — an eval suite, thousands
    of vectors, NOT a second corpus — broadcasts, and the corpus scans
    ONCE with zero shuffle; per-row cost is |benchmark| JVM-side fold
    dot products. ``max_benchmark`` enforces that posture with a
    bounded limit+count probe (the q22 lesson: quadratic paths need a
    tripwire, not a docstring); pass None to waive it explicitly.

    ``method='lsh'``: sign-LSH banded candidates (keys-only join, the
    q273 posture) re-ranked with the same exact formula — for the rare
    big-benchmark case where exact's |corpus| x |benchmark| compute is
    too hot. Probabilistic recall (subset of exact), same contract as
    cosine_near_dup_pairs(method='lsh').

    Reference: contamination checks in training-data pipelines (GPT-3
    appendix C / PaLM-style 13-gram decontamination generalized to
    embedding space); reuses operators/similarity.py conventions.
    """
    from kubenetmon_spark.operators.similarity import (
        _dot,
        _norm,
        sign_band_rows,
    )

    # Norms are computed ONCE per row, not once per pair: each norm is
    # an array fold as costly as the dot product itself, so folding it
    # into the pair expression would triple the per-pair work (the
    # value is identical either way — same fold over the same doubles).
    b = benchmark_vecs.select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).alias("_bv"),
        _norm(F.col(vec_col)).alias("_bnm"),
    )
    # fanout the corpus side: per-row cost is |benchmark| JVM fold dot
    # products, serialized on one core when the corpus is a single
    # split (tables.fanout — no-op at scale; benchmark broadcasts).
    from kubenetmon_spark.tables import fanout

    c = fanout(corpus_vecs).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cnm"),
    )
    cos = F.try_divide(
        _dot(F.col("_cv"), F.col("_bv")),
        F.col("_cnm") * F.col("_bnm"),
    )
    scored_cols = [
        F.col("corpus_id"),
        F.col("bench_id"),
        F.round(cos * F.lit(10000.0), 0).cast("long").alias("cosine_bp"),
    ]
    if method == "exact":
        if max_benchmark is not None:
            n_b = b.limit(max_benchmark + 1).count()
            if n_b > max_benchmark:
                raise ValueError(
                    f"benchmark side has > {max_benchmark} vectors; "
                    "exact contamination broadcasts it — use "
                    "method='lsh' or raise/waive max_benchmark"
                )
        pairs = c.crossJoin(F.broadcast(b))
    elif method == "lsh":
        cb = sign_band_rows(
            corpus_vecs, id_col, vec_col, bands=bands, band_bits=band_bits
        ).select(F.col("_id").alias("corpus_id"), "_band", "_key")
        bb = sign_band_rows(
            benchmark_vecs, id_col, vec_col, bands=bands, band_bits=band_bits
        ).select(F.col("_id").alias("bench_id"), "_band", "_key")
        cand = (
            cb.join(F.broadcast(bb), ["_band", "_key"])
            .select("corpus_id", "bench_id")
            .distinct()
        )
        pairs = (
            cand.join(c, "corpus_id")
            .join(F.broadcast(b), "bench_id")
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        pairs.select(*scored_cols)
        .filter(F.col("cosine_bp") >= F.lit(int(threshold_bp)))
    )
