"""Deduplication operators for large-scale text/training-data pipelines.

Shingling and everything built on it (``shingle_set``, ``jaccard_pairs``,
``minhash_lsh_pairs``, ``minhash_dedup_incremental``) runs in the JVM:
built-in expressions plus ML's compiled ``NGram`` transformer, no Python
worker. ``duplicate_span_fraction`` (integral ids) and ``semantic_dedup``
use Arrow-batched Python stages. Determinism is a design goal: every hash
is md5 over an explicit string, so results are reproducible across
engines and runs (and checkable against a SQL oracle).

Scale notes (100 TB posture):
- ``exact_*``: one hash-shuffle on the fingerprint; map-side combine
  applies. Fingerprints are uniform -> no skew.
- ``shingle`` joins: hot shingles (stopword runs) create join skew; cap
  them with ``max_df`` (drop shingles appearing in more than ``max_df``
  docs — standard MinHash/LSH practice) or rely on AQE skew splitting.
- ``minhash_lsh_pairs``: signatures come from one row per document (no
  shuffle); candidate generation is an equi-join on band keys (shuffle
  bounded by #bands x #docs); verification joins each candidate pair to
  its two per-document shingle arrays. This is the scale path; exact
  ``jaccard_pairs`` is the small-scale/oracle path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kubenetmon_spark.tables import fanout


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Group rows by content fingerprint: (fingerprint, keep_id, n).

    keep_id is the minimum id — the deterministic survivor.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.trim(text))
    return (
        df.withColumn("fingerprint", F.md5(text))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str, normalize: bool = True) -> DataFrame:
    """Keep only the minimum-id row per identical (normalized) text."""
    groups = exact_duplicate_groups(df, id_col, text_col, normalize)
    return df.join(
        groups.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, sh): one row per input row with a non-NULL text, ``sh`` its
    distinct word n-grams in first-occurrence order.

    Tokens are ``split(trim(text), '\\s+')`` (Java ``\\s``, i.e. ASCII
    ``[ \\t\\n\\x0B\\f\\r]``: U+00A0 and other Unicode spaces stay
    inside a token); the n-grams come from ML's ``NGram`` transformer, a
    compiled JVM function, so no row leaves the JVM. Texts with fewer
    than n tokens get an empty array. ``NGram`` throws on a NULL array,
    so NULL texts are filtered first (they have no shingles).

    ``_id`` is the id cast to LongType. A non-integral id column would
    cast to NULL (every downstream anti-join/dedup would then no-op —
    silent data corruption for safety-critical consumers like
    decontaminate), so it is refused instead.
    """
    from pyspark.ml.feature import NGram

    id_dtype = df.schema[id_col].dataType.simpleString()
    if id_dtype not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"shingle_set: id column {id_col!r} has type {id_dtype}; "
            "need an integral id — derive a surrogate first, e.g. "
            f".withColumn({id_col!r}, F.xxhash64({id_col!r}))"
        )
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    )
    grams = NGram(n=n, inputCol="_toks", outputCol="_grams").transform(toks)
    return grams.select("_id", F.array_distinct("_grams").alias("sh"))


def shingle_set(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(_id, shingle) rows, each input row's distinct word n-grams;
    optionally drop shingles with document frequency > max_df
    (skew/recall tradeoff at scale).

    Tokenization, the NULL-text and integral-id rules are those of
    :func:`_doc_shingles`; the whole stage is JVM expressions plus one
    ``explode`` — no Python worker.
    """
    sh = _doc_shingles(df, id_col, text_col, n).select(
        "_id", F.explode("sh").alias("shingle")
    )
    if max_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    return sh


#: Above this many documents, an UNBOUNDED all-pairs shingle self-join
#: is refused (measured 80x runtime at 10x data — SCALE.md): the caller
#: must either cap shingle document-frequency (``max_df``, which bounds
#: the join fan-out to <= max_df matches per shingle, making total work
#: linear in shingle volume) or explicitly accept the quadratic plan
#: with ``unsafe_exact=True``. The engine protecting users from
#: accidentally-quadratic plans is the Spark analogue of ClickHouse's
#: ``max_bytes_to_read``-style query safety limits.
JACCARD_UNGUARDED_DOC_LIMIT = 10_000


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_bp: int = 3000,
    max_df: int | None = None,
    unsafe_exact: bool = False,
    unguarded_doc_limit: int = JACCARD_UNGUARDED_DOC_LIMIT,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing a shingle.

    Returns (id_1, id_2, intersection, jaccard_bp) with id_1 < id_2 and
    jaccard_bp = floor(J * 10000) — integer basis points keep the result
    engine-exact (no float division).

    **Scale boundary (enforced).** Without ``max_df`` the shingle
    self-join is all-pairs: a shingle shared by d documents emits
    d*(d-1)/2 candidate rows, so corpora with hot shingles go quadratic.
    Above ``unguarded_doc_limit`` documents this function therefore
    REFUSES to run unless the caller passes ``max_df`` (drop shingles
    appearing in more than that many documents — bounded fan-out, and
    near-dup semantics barely care because ubiquitous shingles carry no
    signal) or opts in explicitly with ``unsafe_exact=True``. The
    production-scale substitute is :func:`minhash_lsh_pairs` (bucketed
    candidates, exact verification).
    """
    if max_df is None and not unsafe_exact:
        n_docs = df.select(id_col).count()
        if n_docs > unguarded_doc_limit:
            raise ValueError(
                f"jaccard_pairs: {n_docs} documents exceeds the "
                f"unguarded limit ({unguarded_doc_limit}) for the "
                "all-pairs shingle self-join. Pass max_df=<cap> to bound "
                "the join fan-out, use minhash_lsh_pairs for bucketed "
                "near-dup at scale, or force the quadratic plan with "
                "unsafe_exact=True."
            )
    # Materialize the shingle set once — it is scanned three times below
    # (sizes + both sides of the self-join). fanout: a single-split
    # corpus otherwise serializes the shingle stage and the join map
    # sides on one core (tables.fanout — no-op at scale).
    sh = shingle_set(fanout(df), id_col, text_col, n, max_df).localCheckpoint(eager=True)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("_id").alias("id_1"), "shingle")
    b = sh.select(F.col("_id").alias("id_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    out = (
        inter.join(sizes.select(F.col("_id").alias("id_1"), F.col("sz").alias("_sz1")), "id_1")
        .join(sizes.select(F.col("_id").alias("id_2"), F.col("sz").alias("_sz2")), "id_2")
        .withColumn(
            "jaccard_bp",
            F.floor(
                (F.col("intersection") * 10000)
                / (F.col("_sz1") + F.col("_sz2") - F.col("intersection"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= threshold_bp)
        .select("id_1", "id_2", "intersection", "jaccard_bp")
    )
    return out


def _band_rows(per_doc: DataFrame, num_hashes: int, bands: int, *keep: str) -> DataFrame:
    """(_id, *keep, band, band_key) — ``bands`` rows per document from its
    ``_mh<h>`` MinHash columns: band b's key is the sorted ``h=minhash``
    strings of its num_hashes // bands rows joined with '|'."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        hs = range(b * rows_per_band, (b + 1) * rows_per_band)
        keys = F.array(
            *[F.concat_ws("=", F.lit(str(h)), F.col(f"_mh{h}")) for h in hs]
        )
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", F.array_sort(keys)).alias("band_key"),
            )
        )
    return per_doc.select(
        "_id", *keep, F.explode(F.array(*band_structs)).alias("_b")
    ).select("_id", *keep, "_b.band", "_b.band_key")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    verify_threshold_bp: int = 3000,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate detection.

    1. signatures: num_hashes MinHash values per doc, hash_h(s) =
       md5(h ':' s) — md5 keeps the signature engine-independent (the
       SQL oracle computes the identical one), unlike seeded-random
       permutations;
    2. banding: rows of the signature grouped into ``bands`` keys; docs
       sharing any band key become candidate pairs (equi-join — the only
       pair-generating shuffle);
    3. verify: exact Jaccard on candidates only; keep >= threshold.

    Ids are document keys: each input row is one document.
    Returns (id_1, id_2, jaccard_bp).
    """
    # One row per document carries its distinct shingles, their count and
    # all signatures — built by per-row expressions, no shuffle. The
    # checkpoint runs that row pass once for its three consumers (banding
    # and both verify sides). fanout: parallelize it when the corpus
    # arrives as fewer-than-core splits (no-op at scale). Documents
    # without shingles are dropped: they cannot pair, and their NULL
    # signatures would all share the band key ''.
    docs = _doc_shingles(fanout(df), id_col, text_col, n).filter(F.size("sh") > 0)
    per_doc = docs.select(
        "_id",
        "sh",
        F.size("sh").alias("sz"),
        *[
            F.array_min(
                F.transform("sh", lambda s: F.md5(F.concat(F.lit(f"{h}:"), s)))
            ).alias(f"_mh{h}")
            for h in range(num_hashes)
        ],
    ).localCheckpoint(eager=True)
    banded = _band_rows(per_doc, num_hashes, bands)
    ca = banded.select(F.col("_id").alias("id_1"), "band", "band_key")
    cb = banded.select(F.col("_id").alias("id_2"), "band", "band_key")
    candidates = (
        ca.join(cb, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    # Verify ONLY the candidate pairs (this is what makes LSH the scale
    # path): each side joins one per-document row, and the intersection
    # is computed on the two distinct-shingle arrays.
    d1 = per_doc.select(F.col("_id").alias("id_1"), F.col("sh").alias("_s1"), F.col("sz").alias("_sz1"))
    d2 = per_doc.select(F.col("_id").alias("id_2"), F.col("sh").alias("_s2"), F.col("sz").alias("_sz2"))
    inter = F.size(F.array_intersect("_s1", "_s2"))
    return (
        candidates.join(d1, "id_1")
        .join(d2, "id_2")
        .withColumn(
            "jaccard_bp",
            F.floor((inter * 10000) / (F.col("_sz1") + F.col("_sz2") - inter)).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= verify_threshold_bp)
        .select("id_1", "id_2", "jaccard_bp")
    )


def minhash_dedup_incremental(
    batch: DataFrame,
    index_bands: DataFrame | None,
    index_shingles: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    verify_threshold_bp: int = 3000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-duplicate dedup of a NEW batch against a persisted MinHash
    index — the continuous-crawl shape: each arriving batch is checked
    against everything already kept, without ever re-shingling the
    corpus (the batch analogue of ``dedup_lines_incremental``; streamed
    by streaming/curation.py::start_minhash_dedup_stream).

    Returns ``(survivors, new_bands, new_shingles)``: survivors are the
    batch rows to keep; the band/shingle rows of the survivors are the
    caller's index delta (append them for the next batch).

    Drop rule (deterministic): a batch doc is dropped iff its exact
    verified Jaccard >= threshold against (a) any indexed survivor, or
    (b) any SMALLER-id doc within its own batch. (b) is deliberately
    conservative versus a strictly-greedy sequential pass — a doc whose
    only match was itself dropped still drops; at crawl scale a
    near-dup of a near-dup is near-duplicate material, and the rule
    stays a pure function of the batch (order-free, retry-stable).
    With an empty index this equals "keep docs that never appear as
    id_2 in the verified pair list" — the q279 oracle.

    Scale posture: identical to ``minhash_lsh_pairs`` — candidates come
    only from band-key equi-joins (batch x batch and batch x index);
    exact verification touches candidates only. Index growth is
    survivors-only: bands are 4 rows/doc, shingles ~tokens/doc (the
    same index a re-run from scratch would build).

    Index schemas: ``index_bands (_id, band, band_key, sz)``,
    ``index_shingles (_id, shingle)``. Pass None/None for a cold start.
    """
    sh = shingle_set(batch, id_col, text_col, n).localCheckpoint(eager=True)
    per_doc = sh.groupBy("_id").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(h), F.col("shingle")))).alias(f"_mh{h}")
            for h in range(num_hashes)
        ],
    ).localCheckpoint(eager=True)
    banded = _band_rows(per_doc, num_hashes, bands, "sz")

    def verify(cands, sh2, sz2):
        """exact jaccard >= threshold for (id_1=other, id_2=batch doc)."""
        inter = (
            cands.join(sh2.select(F.col("_id").alias("id_1"), "shingle"), "id_1")
            .join(sh.select(F.col("_id").alias("id_2"), "shingle"), ["id_2", "shingle"])
            .groupBy("id_1", "id_2")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        return (
            inter.join(sz2.select(F.col("_id").alias("id_1"), F.col("sz").alias("_s1")), "id_1")
            .join(
                per_doc.select(F.col("_id").alias("id_2"), F.col("sz").alias("_s2")),
                "id_2",
            )
            .filter(
                F.floor((F.col("i") * 10000) / (F.col("_s1") + F.col("_s2") - F.col("i")))
                >= verify_threshold_bp
            )
            .select("id_2")
        )

    ca = banded.select(F.col("_id").alias("id_1"), "band", "band_key")
    cb = banded.select(F.col("_id").alias("id_2"), "band", "band_key")
    internal = (
        ca.join(cb, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    dropped = verify(internal, sh, per_doc)
    if index_bands is not None:
        cross = (
            index_bands.select(F.col("_id").alias("id_1"), "band", "band_key")
            .join(cb, ["band", "band_key"])
            .select("id_1", "id_2")
            .distinct()
        )
        idx_sizes = index_bands.select("_id", "sz").distinct()
        dropped = dropped.unionByName(verify(cross, index_shingles, idx_sizes))
    dropped = dropped.select(F.col("id_2").alias("_drop")).distinct()

    survivors = batch.join(
        dropped, batch[id_col] == F.col("_drop"), "left_anti"
    )
    keep_ids = survivors.select(F.col(id_col).cast("long").alias("_keep"))
    new_bands = banded.join(keep_ids, banded["_id"] == F.col("_keep"), "left_semi")
    new_shingles = sh.join(keep_ids, sh["_id"] == F.col("_keep"), "left_semi")
    return survivors, new_bands, new_shingles


def semantic_dedup(
    vectors: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then greedily drop items whose cosine similarity to
    an already-kept item in the SAME cluster exceeds ``threshold``.

    Survivor rule is deterministic: iterate ids ascending within each
    cluster, keep an item iff its max cosine to every previously-kept
    item is < threshold. Returns ``(id_col, cluster, keep, max_sim)``
    where ``max_sim`` is the similarity to the closest previously-kept
    item (-1.0 for the first item of a cluster).

    Scale shape: assignment is a shuffle-free Arrow scan against the
    broadcast centroid matrix (``kmeans_assign``); pruning is ONE hash
    shuffle on ``cluster`` followed by an O(m^2) NumPy block matmul per
    cluster — the whole point of SemDeDup is that m ~ n/k keeps the
    quadratic term local and bounded, vs the global O(n^2) of
    ``cosine_near_dup_pairs``. Oversized clusters are the skew hazard:
    raise k (finer clustering) rather than capping rows.
    """
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from kubenetmon_spark.operators.clustering import kmeans_assign

    if assigned is None:
        # pass `assigned` (id, vec, cluster) to use a different
        # assignment rule, e.g. kmeans_assign_exact for the
        # engine-reproducible integer path (gate q89)
        assigned = kmeans_assign(
            vectors, centroids, id_col=id_col, vec_col=vec_col
        )
    slim = assigned.select(id_col, vec_col, "cluster")
    id_type = dict(slim.dtypes)[id_col]
    out_schema = StructType(
        [
            StructField(id_col, LongType() if id_type == "bigint" else slim.schema[id_col].dataType),
            StructField("cluster", IntegerType()),
            StructField("keep", BooleanType()),
            StructField("max_sim", DoubleType()),
        ]
    )

    def prune(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort")
        v = np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        v = v / norms[:, None]
        sims = v @ v.T
        m = len(pdf)
        keep = np.zeros(m, dtype=bool)
        max_sim = np.full(m, -1.0)
        kept_idx: list[int] = []
        for i in range(m):
            if kept_idx:
                max_sim[i] = sims[i, kept_idx].max()
            if max_sim[i] < threshold:
                keep[i] = True
                kept_idx.append(i)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                "cluster": np.full(m, key[0], dtype=np.int32),
                "keep": keep,
                "max_sim": max_sim,
            }
        )

    return slim.groupBy("cluster").applyInPandas(prune, out_schema)


def duplicate_span_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Span-level (paragraph-style) duplication audit: for every doc,
    the fraction of its n-token spans that occur >= ``min_count`` times
    ACROSS THE WHOLE CORPUS. The repeated-substring filter of
    "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022) expressed relationally — no suffix array, just
    exact span counting, which at n>=8 catches the same boilerplate.

    Docs shorter than ``n`` tokens produce no row (they have no spans).
    Fraction is integer basis points (floor), exact in any engine.

    Scale: spans explode to ~one row per token. Corpus-wide counts come
    from a window count over partitionBy(span) — ONE pass over the
    exploded spans (the groupBy+join-back alternative scans the corpus
    and re-runs the span-generation expression twice, measured 2.1x
    slower at sf0.1), so exactly two exchanges: spans by span, then the
    per-doc rollup by doc. Same shape and skew posture as
    ``remove_duplicate_spans``'s gram window: a boilerplate mega-span
    lands one reducer, but the window buffer is spillable and the sf1
    adversarial-skew study (SCALE.md) bounds the hot-span case. For
    100 TB corpora swap the raw span string for xxhash64(span) before
    the shuffle — collision probability is negligible and shuffle bytes
    drop ~5x; kept as the string here so the DuckDB oracle can mirror
    exactly.
    """
    # tokenize EXACTLY like remove_duplicate_spans (\s+ split, empties
    # filtered): the measurement and the removal must agree on what a
    # token is, or a doc flagged as duplicated here can be untouched
    # by the remover (and double spaces would inject phantom tokens)
    #
    # Span GENERATION runs in an Arrow-batched Python stage (r7):
    # Spark's interpreted higher-order lambdas made the
    # transform+slice+array_join explode 85% of this operator's cost
    # (3.4s of 4.0s at sf0.1) where a C-speed split + join emits
    # byte-identical spans. Non-integral id columns take the
    # expression path below (the Arrow stage carries _id as long).
    id_dtype = df.schema[id_col].dataType.simpleString()
    if id_dtype in ("bigint", "int", "smallint", "tinyint"):
        import re as _re

        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        out_schema = StructType(
            [
                StructField(id_col, LongType(), True),
                StructField("span", StringType(), True),
            ]
        )
        # ASCII-only \s+, matching Java's default \s exactly
        # [ \t\n\x0B\f\r]: Python's Unicode-aware \s also splits on
        # U+00A0/U+2028/U+1680 etc., which would break the documented
        # invariant that this tokenizes byte-identically with the
        # string-id expression path and remove_duplicate_spans
        # (ADVICE r07).
        ws = _re.compile(r"\s+", _re.ASCII)

        def gen(batches):
            import pandas as pd

            for b in batches:
                ids, spans_l = [], []
                for _id, text in zip(b[id_col], b[text_col]):
                    if text is None:
                        continue
                    toks_py = [t for t in ws.split(text) if t != ""]
                    for i in range(len(toks_py) - n + 1):
                        ids.append(_id)
                        spans_l.append(" ".join(toks_py[i : i + n]))
                yield pd.DataFrame({id_col: ids, "span": spans_l})

        spans = fanout(
            df.select(F.col(id_col).cast("long").alias(id_col), text_col)
        ).mapInPandas(gen, out_schema)
    else:
        toks = F.filter(
            F.split(F.col(text_col), r"\s+"), lambda t: t != ""
        )
        spans_arr = F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
        spans = (
            df.filter(F.size(toks) >= n)
            .select(F.col(id_col), F.explode(spans_arr).alias("span"))
        )
    w = Window.partitionBy("span")
    per_doc = (
        spans.withColumn("_c", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("_c") >= min_count, 1).otherwise(0)
            ).alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        F.expr("n_dup_spans * 10000 div n_spans").alias("dup_bp"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    out_col: str = "dedup_text",
) -> DataFrame:
    """Exact-substring deduplication WITH removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every k-token span that occurs more than once in the
    corpus keeps only its FIRST occurrence (ordered by (doc, position)
    — deterministic under any partitioning); every other occurrence's
    tokens are removed and documents are reassembled from the
    surviving tokens. q101 MEASURES span duplication; this operator
    actually removes it.

    Returns (id, out_col, n_tokens, n_removed).

    Plan (all DataFrame ops, no driver state):
      1. explode k-gram starts: (doc, pos, gram-text) — volume =
         total tokens;
      2. one shuffle keyed on GRAM TEXT: first-occurrence rank +
         occurrence count per gram (the dedup state IS the hash
         partitioning; a boilerplate mega-gram lands in one sort run);
      3. non-first occurrences of duplicated grams expand to their
         covered token positions (sequence/explode, ≤ k rows per
         duplicated occurrence) — distinct per doc;
      4. left-anti join tokens against covered positions (both sides
         already keyed by doc), regroup per doc to reassemble.
    """
    arr = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "").alias(
            "_a"
        ),
    )
    # tokens MUST posexplode the SAME filtered array the gram positions
    # index into: an unfiltered split carries empty tokens (leading/
    # double whitespace), shifting _p off the gram coordinate system
    # and removing the WRONG tokens — silent text corruption
    toks = arr.select(
        F.col(id_col), F.posexplode("_a").alias("_p", "_t")
    )
    # (r7 note: the Arrow gram generation that pays off in
    # duplicate_span_fraction was A/B'd here and does NOT win — this
    # operator pre-materializes the token array `_a` once, so its
    # expression-path gram build is already ~0.5s warm at sf0.1,
    # on par with the Arrow stage but without the Python workers.)
    grams = arr.select(
        F.col(id_col),
        F.explode(
            F.transform(
                # guard: Spark's sequence(0, -1) DESCENDS; short docs
                # must yield no gram starts at all
                F.when(
                    F.size("_a") >= k,
                    F.sequence(F.lit(0), F.size("_a") - k),
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(F.col("_a"), i + 1, k), " ").alias(
                        "gram"
                    ),
                ),
            )
        ).alias("g"),
    ).select(F.col(id_col), F.col("g.pos").alias("_pos"), F.col("g.gram"))
    w = Window.partitionBy("gram").orderBy(F.col(id_col), F.col("_pos"))
    wc = Window.partitionBy("gram")
    ranked = grams.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_cnt", F.count("*").over(wc)
    )
    covered = (
        ranked.filter((F.col("_cnt") > 1) & (F.col("_rk") > 1))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (k - 1))
            ).alias("_cov"),
        )
        .distinct()
    )
    # LEFT join + null-flag instead of an anti-join feeding a separate
    # token-count agg: one regroup per doc yields the rebuilt text,
    # total tokens, AND removed count — one exchange fewer, and the
    # doc partitioning is reused for all three.
    cov = covered.withColumnRenamed(id_col, "_cid").withColumn(
        "_hit", F.lit(1)
    )
    flagged = toks.join(
        cov,
        (toks[id_col] == cov["_cid"]) & (toks["_p"] == cov["_cov"]),
        "left",
    )
    keep_struct = F.when(
        F.col("_hit").isNull(),
        F.struct(F.col("_p").alias("p"), F.col("_t").alias("t")),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(keep_struct)), lambda s: s["t"]
            ),
            " ",
        ).alias(out_col),
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).alias(
            "n_removed"
        ),
    )
    # Zero-token docs (empty/whitespace-only/NULL text) emit no token
    # rows, so the regroup alone would silently DROP them from the
    # corpus (the chunk_documents lesson). They survive as ("", 0, 0)
    # via a UNION with the null-safe-anti-joined missing ids — not a
    # left join over the full doc list, so the heavy rebuilt-text
    # column never re-shuffles through a join (only ids do), and a
    # NULL-id document keeps its computed output instead of being
    # silently replaced.
    # distinct(): one output row per DISTINCT id in all cases — the
    # content-bearing path's groupBy already conflates duplicate ids,
    # so the survival path must too.
    missing = arr.select(id_col).distinct().join(
        rebuilt.select(F.col(id_col).alias("_rid")),
        F.col(id_col).eqNullSafe(F.col("_rid")),
        "left_anti",
    )
    return rebuilt.select(id_col, out_col, "n_tokens", "n_removed").unionByName(
        missing.select(
            F.col(id_col),
            F.lit("").alias(out_col),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("n_removed"),
        )
    )
