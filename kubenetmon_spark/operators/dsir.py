"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

Selects raw-corpus documents whose hashed n-gram distribution looks like
a (small) target corpus: per-document importance weight = product over
the doc's features of p_target(f)/p_raw(f), then Gumbel top-k sampling
proportional to the weights. This is the standard pretraining
data-selection recipe; on this engine it is three DataFrame stages:

1. ``hashed_ngram_counts`` — word uni+bigrams hashed into ``buckets``
   via xxhash64 (built-in, JVM): (id, bucket, cnt). One explode + one
   hash agg; shuffle volume = tokens.
2. ``dsir_log_weights`` — bucket log-ratios log(p_t(f)) - log(p_r(f))
   with +1 smoothing, computed from two bucket-count aggregates. The
   ratio table is at most ``buckets`` rows -> broadcast; per-doc
   log-weight is one broadcast join + sum agg. The raw corpus is
   scanned twice (once for its feature distribution, once for doc
   features) — at 100 TB fold both into one cached feature pass.
3. ``gumbel_topk`` — deterministic sampling without replacement:
   perturb each log-weight with a Gumbel draw derived from
   xxhash64(id, seed) (no RNG state, reproducible on any cluster
   layout), take the global top-k with a unique tie-break.

Float note: log-weights are doubles, so cross-engine value-hash parity
is not guaranteed at the margins — the correctness evidence is the
NumPy reference comparison in tests/test_dsir.py (same pattern as BM25
and the IVF family). ``dsir_gumbel_sample_exact`` below is the
engine-portable twin: the same sampling recipe with every log computed
as the fixed-point integer ln of functions/fxlog.py, hash-exact on any
engine (it carries q113's full DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    buckets: int = 10_000,
) -> DataFrame:
    """(id, bucket, cnt) over word unigrams + bigrams, hashed with
    xxhash64 into ``buckets`` (non-negative via pmod)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.concat(
        toks,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(grams).alias("g"))
        .filter(F.col("g") != "")
        .select("_id", F.pmod(F.xxhash64("g"), F.lit(buckets)).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_dist(features: DataFrame) -> DataFrame:
    """(bucket, total) feature counts over a corpus' (id, bucket, cnt)."""
    return features.groupBy("bucket").agg(F.sum("cnt").alias("total"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str = "text",
    buckets: int = 10_000,
) -> DataFrame:
    """(id, log_weight) for every raw doc.

    log_weight = sum_f cnt_doc(f) * [log p_target(f) - log p_raw(f)]
    with add-one smoothing over the ``buckets``-sized vocabulary.
    """
    # one feature pass over the raw corpus: the (id, bucket, cnt) table
    # feeds both the raw distribution and the per-doc weights
    raw_feats = hashed_ngram_counts(
        raw, id_col, text_col, buckets
    ).localCheckpoint(eager=True)
    tgt_feats = hashed_ngram_counts(target, id_col, text_col, buckets)
    raw_dist = _bucket_dist(raw_feats)
    tgt_dist = _bucket_dist(tgt_feats)
    # full outer over the two (<= buckets)-row tables; +1 smoothing makes
    # absent buckets well-defined on both sides
    joined = raw_dist.withColumnRenamed("total", "raw_n").join(
        tgt_dist.withColumnRenamed("total", "tgt_n"), "bucket", "outer"
    )
    # totals via a tiny agg joined back (the table is <= buckets rows)
    totals = joined.agg(
        F.sum(F.coalesce("raw_n", F.lit(0))).alias("_rt"),
        F.sum(F.coalesce("tgt_n", F.lit(0))).alias("_tt"),
    )
    ratios = (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(F.coalesce("tgt_n", F.lit(0)) + 1)
                - F.log(F.col("_tt") + buckets)
                - F.log(F.coalesce("raw_n", F.lit(0)) + 1)
                + F.log(F.col("_rt") + buckets)
            ).alias("log_ratio"),
        )
    )
    return (
        raw_feats.join(F.broadcast(ratios), "bucket")
        .groupBy("_id")
        .agg(F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"))
        .withColumnRenamed("_id", id_col)
    )


def gumbel_topk(
    weights: DataFrame,
    id_col: str,
    k: int,
    seed: int = 0,
    weight_col: str = "log_weight",
) -> DataFrame:
    """Deterministic Gumbel top-k: sample ``k`` ids without replacement
    with probability proportional to exp(weight). The Gumbel noise is
    derived from xxhash64(id, seed) — stateless, identical on any
    cluster — and the final ordering carries the id as tie-break."""
    # u in (0, 1): (h mod M + 0.5) / M keeps u strictly inside the
    # interval so both logs are finite
    m = F.lit(1 << 20)
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), m) + 0.5) / m
    g = -F.log(-F.log(u))
    return (
        weights.withColumn("_key", F.col(weight_col) + g)
        .orderBy(F.desc("_key"), F.col(id_col))
        .limit(k)
        .drop("_key")
    )


# --- exact-integer surrogate (oracle-able twin of the float path) -------
#
# The float path's log-weights and Gumbel draws are libm-bound and not
# cross-engine hashable. This surrogate keeps the IDENTICAL
# pipeline shape — hashed-gram features, two bucket distributions, a
# broadcast ratio table, one per-doc weighted sum, deterministic top-k —
# but scores with exact integer arithmetic, so a DuckDB oracle
# hash-matches it on any engine (the q268/q112 recipe). Ratio per
# bucket (add-one smoothing, basis points, floor division):
#
#   ratio_bp(f) = ((t_f + 1) * (R + B) * 10000) div ((r_f + 1) * (T + B))
#
# which is floor(10000 * p_target(f) / p_raw(f)); per-doc score =
# sum_f cnt_doc(f) * (ratio_bp(f) - 10000) — CENTERED at the neutral
# ratio, so features rarer in the target than in the raw corpus push
# the score NEGATIVE exactly as their log-ratio would (a positive-only
# sum would reward sheer length instead of target affinity).
# Selection = top-k by (score desc, id) —
# the importance-RANKING mechanics of DSIR without the sampling noise.
# The bucket hash is the engine-portable md5-prefix integer (q117
# idiom), not xxhash64, precisely so the oracle can reproduce it.


def _portable_grams(df: DataFrame, id_col: str, text_col: str):
    # fanout: the interpreted higher-order gram lambdas + per-gram md5
    # are the dominant CPU of both dsir entry points; a single-split
    # corpus serializes them on one core (tables.fanout — no-op when
    # the input already has >= core-count partitions).
    from kubenetmon_spark.tables import fanout

    df = fanout(df)
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    grams = F.concat(
        toks,
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    return df.select(
        F.col(id_col).alias("_id"), F.explode(grams).alias("g")
    )


def _subset_dists(raw_feats: DataFrame, target: DataFrame, id_col: str):
    """(dist, totals, t_totals) when the target corpus is a
    deduplicated row-subset of raw with identical (id, text): target
    features are raw features restricted to the target ids, so the
    SECOND tokenize+hash pass over the target (the dominant extra cost
    of both exact dsir entry points — guide §2.3 don't recompute what
    you already shuffled) collapses to one broadcast semi-flag on the
    checkpointed raw feature table, and BOTH bucket distributions come
    out of ONE aggregation:

      dist(bucket) = (raw_n = sum cnt, tgt_n = sum cnt over target docs)

    ``tgt_n`` is NULL for buckets no target doc carries — exactly the
    left-join semantics of the general path, so downstream smoothing
    (`coalesce(tgt_n, 0) + 1`) is bit-identical. One job + one tiny
    collect replace two gram passes, two distribution aggregates and
    two scalar collects."""
    tids = target.select(F.col(id_col).alias("_id")).distinct()
    dist = (
        raw_feats.join(
            F.broadcast(tids.withColumn("_t", F.lit(1))), "_id", "left"
        )
        .groupBy("bucket")
        .agg(
            F.sum("cnt").alias("raw_n"),
            F.sum(F.when(F.col("_t") == 1, F.col("cnt"))).alias("tgt_n"),
        )
        # <= buckets rows, consumed by the totals collect AND the ratio
        # table — materialize once
        .localCheckpoint(eager=True)
    )
    tot = dist.agg(
        F.sum("raw_n").alias("r"),
        F.sum(F.coalesce("tgt_n", F.lit(0))).alias("t"),
    ).collect()[0]
    return dist, (tot["r"] or 0), (tot["t"] or 0)


def dsir_integer_scores(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str = "text",
    buckets: int = 4096,
    k: int = 50,
    target_within_raw: bool = False,
) -> DataFrame:
    """(id, score) for the top-``k`` raw docs by exact-integer DSIR
    importance score (basis-point bucket ratios, deterministic
    id tie-break). See module comment above for the formula.

    ``target_within_raw=True`` declares the target a deduplicated
    row-subset of ``raw`` with identical (id, text) — the common "target
    is a filter of the corpus" shape — and computes target features
    from the raw feature pass instead of re-tokenizing
    (:func:`_subset_dists`; bit-identical output, pinned by test)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("g")), 1, 13), 16, 10).cast("long"),
        F.lit(buckets),
    )

    def feats(df):
        return (
            _portable_grams(df, id_col, text_col)
            .select("_id", bucket.alias("bucket"))
            .groupBy("_id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    raw_feats = feats(raw).localCheckpoint(eager=True)
    if target_within_raw:
        dist, totals, t_totals = _subset_dists(raw_feats, target, id_col)
        rdist = dist
        tdist = None
    else:
        tgt_feats = feats(target)
        rdist = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("raw_n"))
        tdist = tgt_feats.groupBy("bucket").agg(F.sum("cnt").alias("tgt_n"))
        totals = rdist.agg(F.sum("raw_n")).collect()[0][0] or 0
        t_totals = tdist.agg(F.sum("tgt_n")).collect()[0][0] or 0
    # pure int64 `div`, NOT decimal floor-division: Spark rounds a
    # decimal quotient to the result scale BEFORE floor, which can
    # disagree with an engine's integer division at exact boundaries.
    # int64 envelope: numerator <= (T+B)(R+B)*1e4 — safe through
    # ~1e7-gram corpora per side; widen both engines to DECIMAL beyond.
    num = (
        (F.coalesce("tgt_n", F.lit(0)) + 1)
        * F.lit(int(totals) + buckets)
        * F.lit(10_000)
    ).cast("long")
    den = ((F.col("raw_n") + 1) * F.lit(int(t_totals) + buckets)).cast(
        "long"
    )
    joined = rdist if tdist is None else rdist.join(tdist, "bucket", "left")
    ratio = (
        joined.select(
            "bucket",
            num.alias("_num"),
            den.alias("_den"),
        )
        .select("bucket", F.expr("_num div _den").alias("ratio_bp"))
    )
    return (
        raw_feats.join(F.broadcast(ratio), "bucket")
        .groupBy("_id")
        .agg(
            F.sum(F.col("cnt") * (F.col("ratio_bp") - 10_000)).alias("score")
        )
        .orderBy(F.desc("score"), F.col("_id"))
        .limit(k)
        .withColumnRenamed("_id", id_col)
    )


def dsir_gumbel_sample_exact(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str = "text",
    buckets: int = 4096,
    k: int = 50,
    seed: int = 42,
    target_within_raw: bool = False,
) -> DataFrame:
    """Gumbel top-k DSIR SAMPLING with engine-portable integer keys:
    (id, gumbel_key_fx) for the ``k`` sampled docs.

    Same statistical recipe as ``dsir_log_weights`` + ``gumbel_topk``
    (weights proportional to the importance ratio, perturbed by a
    per-doc Gumbel draw, global top-k without replacement) — but every
    logarithm is the fixed-point integer ln of functions/fxlog.py and
    every sum is an integer sum, so the selection AND the keys are
    bit-identical on any engine, any partition layout (float log-sums
    are partition-order-dependent; integer sums commute exactly).
    This is what lets q113's gate carry a full DuckDB value-hash
    oracle instead of a rows-only check.

    Construction (all scale-2^40 fixed point):
    - per-bucket log-ratio lr = fxln((t_f+1)(R+B)) - fxln((r_f+1)(T+B))
      (add-one smoothing exactly as the float path);
    - per-doc log-weight = sum_f cnt_f * lr_f  (exact integer);
    - Gumbel draw from the portable md5 hash: u = (h52+1)/2^52,
      G = -ln(-ln u) computed as 40*LN2 - fxln(max(52*LN2 - fxln(h52+1), 1));
    - key = log-weight + G, top-k by (key desc, id).

    Scale posture: identical to dsir_integer_scores — one token-volume
    shuffle for features, a <= ``buckets``-row broadcast ratio table,
    one per-doc agg; the fxln chains are pure codegen arithmetic on
    the ratio table (tiny) and on the per-doc weight rows (one
    projection). The float twin (gumbel_topk) remains the statistical
    reference, validated against NumPy in tests/test_dsir.py.
    """
    from kubenetmon_spark.functions.fxlog import LN2_FX, with_fx_ln

    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("g")), 1, 13), 16, 10).cast("long"),
        F.lit(buckets),
    )

    def feats(df):
        return (
            _portable_grams(df, id_col, text_col)
            .select("_id", bucket.alias("bucket"))
            .groupBy("_id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    raw_feats = feats(raw).localCheckpoint(eager=True)
    if target_within_raw:
        joined, totals, t_totals = _subset_dists(raw_feats, target, id_col)
    else:
        tgt_feats = feats(target)
        rdist = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("raw_n"))
        tdist = tgt_feats.groupBy("bucket").agg(F.sum("cnt").alias("tgt_n"))
        totals = rdist.agg(F.sum("raw_n")).collect()[0][0] or 0
        t_totals = tdist.agg(F.sum("tgt_n")).collect()[0][0] or 0
        joined = rdist.join(tdist, "bucket", "left")
    ratio = (
        joined.select(
            "bucket",
            (
                (F.coalesce("tgt_n", F.lit(0)) + 1)
                * F.lit(int(totals) + buckets)
            )
            .cast("long")
            .alias("_num"),
            ((F.col("raw_n") + 1) * F.lit(int(t_totals) + buckets))
            .cast("long")
            .alias("_den"),
        )
    )
    ratio = with_fx_ln(ratio, "_num", "_ln_num")
    ratio = with_fx_ln(ratio, "_den", "_ln_den")
    ratio = ratio.select(
        "bucket", (F.col("_ln_num") - F.col("_ln_den")).alias("lr")
    )
    weights = (
        raw_feats.join(F.broadcast(ratio), "bucket")
        .groupBy("_id")
        .agg(F.sum(F.col("cnt") * F.col("lr")).alias("_logw"))
    )
    # portable Gumbel: 52-bit md5 prefix of "id:seed" -> u in (0, 1]
    h52 = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_id").cast("string"), F.lit(str(seed)))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    weights = with_fx_ln(weights.withColumn("_h", h52), "_h", "_ln_u_neg")
    # L = -ln u = 52*LN2 - fxln(h52+1), clamped >= 1 (u == 1 edge)
    weights = weights.withColumn(
        "_L",
        F.greatest(F.lit(52 * LN2_FX) - F.col("_ln_u_neg"), F.lit(1)),
    )
    weights = with_fx_ln(weights, "_L", "_ln_L")
    return (
        weights.select(
            F.col("_id").alias(id_col),
            (
                F.col("_logw") + F.lit(40 * LN2_FX) - F.col("_ln_L")
            ).alias("gumbel_key_fx"),
        )
        .orderBy(F.desc("gumbel_key_fx"), F.col(id_col))
        .limit(k)
    )
