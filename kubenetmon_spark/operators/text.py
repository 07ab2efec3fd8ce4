"""Text-analysis operators: token stats, quality scoring, language-marker
scoring, document fingerprinting, SimHash.

All pure built-in-function DataFrame transforms (JVM-side). Ratios are
integer basis points (floor((x*10000)/y)) so results are engine-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ["the", "a", "of", "and", "to", "in"]

#: marker tokens per language for the n-gram/stopword language heuristic.
DEFAULT_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "und", "die"],
    "fr": ["le", "les", "des"],
    "zh": ["de5", "shi4", "le5"],  # pinyin-ish placeholders
}


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _marker_count(text: Column, words: list[str]) -> Column:
    """Occurrences of any whitespace-delimited marker word — equivalent
    to counting matching tokens of ``_tokens`` but ~10x faster: one
    compiled-regex pass per row (JVM, codegen) instead of an
    interpreted array-HOF scan per token."""
    import re as _re

    pat = (
        r"(?:^|\s)(?:"
        + "|".join(_re.escape(w) for w in words)
        + r")(?=\s|$)"
    )
    return F.regexp_count(text, F.lit(pat))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens / n_distinct_tokens / n_chars_computed."""
    toks = _tokens(F.col(text_col))
    return (
        df.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)).cast("long"))
        .withColumn("n_chars_computed", F.length(text_col).cast("long"))
    )


def with_quality(
    df: DataFrame, text_col: str = "text", stopwords: list[str] | None = None
) -> DataFrame:
    """Append quality features: stopword ratio, distinct-token ratio, mean
    token length — all in integer basis points."""
    stopwords = stopwords if stopwords is not None else DEFAULT_STOPWORDS
    toks = _tokens(F.col(text_col))
    stop_cnt = _marker_count(F.col(text_col), stopwords)
    n = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    return (
        df.withColumn("n_tokens", n.cast("long"))
        .withColumn("stop_count", stop_cnt.cast("long"))
        .withColumn("stop_ratio_bp", F.floor(stop_cnt * 10000 / n).cast("long"))
        .withColumn(
            "distinct_ratio_bp",
            F.floor(F.size(F.array_distinct(toks)) * 10000 / n).cast("long"),
        )
        .withColumn("alpha_chars", alpha_chars.cast("long"))
    )


def with_lang_scores(
    df: DataFrame, text_col: str = "text", markers: dict[str, list[str]] | None = None
) -> DataFrame:
    """Append per-language marker counts and the argmax prediction.

    The heuristic: count marker-token occurrences per language; highest
    count wins, ties broken by fixed language order (sorted keys).
    """
    markers = markers or DEFAULT_LANG_MARKERS
    out = df
    for lang in sorted(markers):
        out = out.withColumn(
            f"score_{lang}",
            _marker_count(F.col(text_col), markers[lang]).cast("long"),
        )
    langs = sorted(markers)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs]) if len(langs) > 1 else F.col(f"score_{langs[0]}")
    pred = F.lit(None).cast("string")
    # first language (sorted order) achieving the max wins
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


#: BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs —
#: the coarse split every byte-pair tokenizer applies before merges
#: (portable subset of the GPT-2 pattern, no lookarounds).
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def with_bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append subword-style token counts from the BPE pre-tokenizer split:
    total pieces, alpha pieces, numeric pieces, punctuation pieces."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
    is_alpha = lambda t: t.rlike("^[A-Za-z]+$")  # noqa: E731
    is_num = lambda t: t.rlike("^[0-9]+$")  # noqa: E731
    return (
        df.withColumn("n_pieces", F.size(toks).cast("long"))
        .withColumn("n_alpha_pieces", F.size(F.filter(toks, is_alpha)).cast("long"))
        .withColumn("n_num_pieces", F.size(F.filter(toks, is_num)).cast("long"))
        .withColumn(
            "n_punct_pieces",
            (F.size(toks) - F.size(F.filter(toks, is_alpha)) - F.size(F.filter(toks, is_num))).cast("long"),
        )
    )


ROLL_BASE = 31
ROLL_MOD = 2147483647  # 2^31 - 1; all arithmetic stays in int64 pre-mod


def with_winnow_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 8, w: int = 4, method: str = "arrow"
) -> DataFrame:
    """Winnowing document fingerprint over polynomial rolling hashes
    (Schleimer et al., SIGMOD'03 — the MOSS algorithm).

    1. hash every ``k``-char gram: sum(code(c_j) * 31^(k-1-j)) mod (2^31-1)
       — pure integer arithmetic, identical in any engine;
    2. slide a window of ``w`` grams, keep each window's minimum;
    3. the distinct kept mins are the fingerprint set.

    Appends: n_grams, n_fp, fp_digest (md5 of the sorted fingerprint set).
    Two documents sharing a k-gram run share fingerprint hashes, so
    near-dup candidates = equi-join on exploded fingerprints.

    ``method='arrow'`` (default): vectorized NumPy over Arrow batches —
    per-character work in Spark's higher-order lambdas is interpreted
    (never codegen'd), so a mapInPandas stage with sliding-window ops is
    an order of magnitude faster and the integer arithmetic is identical.
    ``method='sql'``: pure built-in expressions (no Python) — the form
    the DuckDB oracle mirrors.
    """
    if method == "arrow":
        return _winnow_arrow(df, text_col, k, w)
    s = F.trim(F.col(text_col))
    n = F.length(s)
    empty = F.expr("array()").cast("array<long>")
    # Each stage lands in its OWN column so the expensive array expressions
    # are evaluated once per row. (Building one nested Column would inline
    # the rolling-hash transform into every downstream reference — the plan
    # recomputes it per reference and the oversized expression tree falls
    # out of whole-stage codegen.)
    # Char codes are materialized once: higher-order lambdas are interpreted
    # (never codegen'd), so per-gram substr() calls — which re-scan the
    # string to find the char offset — dominate. An int-array slice is O(k).
    out = df.withColumn(
        "_codes", F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    )
    # Horner's rule, mod each step (values stay < 2^36, exact in int64).
    # Guard short docs explicitly: Spark's sequence(1, 0) is DESCENDING
    # [1, 0], not empty.
    out = out.withColumn(
        "_hashes",
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.aggregate(
                    F.slice(F.col("_codes"), i, k),
                    F.lit(0).cast("long"),
                    lambda acc, c: (acc * ROLL_BASE + c) % ROLL_MOD,
                ),
            ),
        ).otherwise(empty),
    )
    out = out.withColumn(
        "_wins",
        F.when(
            F.size("_hashes") >= w,
            F.transform(
                F.sequence(F.lit(1), F.size("_hashes") - w + 1),
                lambda p: F.array_min(F.slice(F.col("_hashes"), p, w)),
            ),
        ).otherwise(empty),
    )
    out = out.withColumn("_fps", F.array_sort(F.array_distinct(F.col("_wins"))))
    return (
        out.withColumn("n_grams", F.size("_hashes").cast("long"))
        .withColumn("n_fp", F.size("_fps").cast("long"))
        .withColumn(
            "fp_digest",
            F.md5(F.concat_ws(",", F.transform(F.col("_fps"), lambda x: x.cast("string")))),
        )
        .drop("_codes", "_hashes", "_wins", "_fps")
    )


def _winnow_arrow(df: DataFrame, text_col: str, k: int, w: int) -> DataFrame:
    """Arrow/NumPy winnowing: same integer arithmetic as the SQL form,
    vectorized with sliding_window_view per document."""
    import hashlib

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_grams", LongType(), True),
            StructField("n_fp", LongType(), True),
            StructField("fp_digest", StringType(), True),
        ]
    )
    # MODULAR power table: the raw 31^(k-1-j) overflows int64 for
    # k >= 10-14, silently wrapping the hash away from the SQL path's
    # Horner-mod values. pow(..., ROLL_MOD) keeps every product below
    # 2^52 (codepoints < 2^21 x powers < 2^31), so the mod-at-the-end
    # sum is EXACTLY the Horner-mod result for any k.
    pows = [pow(ROLL_BASE, k - 1 - j, ROLL_MOD) for j in range(k)]

    def gen(batches):
        import numpy as np
        import pandas as pd

        pw = np.array(pows, dtype="int64")
        swv = np.lib.stride_tricks.sliding_window_view

        def one(text):
            if text is None:
                # PARITY with method='sql': trim(NULL) falls to the
                # empty-array branch there, yielding the zero-gram row
                return (0, 0, hashlib.md5(b"").hexdigest())
            s = text.strip(" ")  # ASCII-space trim, same as SQL trim()
            if len(s) < k:
                return (0, 0, hashlib.md5(b"").hexdigest())
            # UTF-32 decode = vectorized codepoints (matches Spark ascii())
            codes = np.frombuffer(s.encode("utf-32-le"), dtype="uint32").astype("int64")
            hashes = (swv(codes, k) * pw).sum(axis=1) % ROLL_MOD
            if len(hashes) < w:
                return (int(len(hashes)), 0, hashlib.md5(b"").hexdigest())
            wins = swv(hashes, w).min(axis=1)
            fps = np.unique(wins)
            digest = hashlib.md5(",".join(str(x) for x in fps).encode()).hexdigest()
            return (int(len(hashes)), int(len(fps)), digest)

        for b in batches:
            res = b[text_col].map(one)
            b = b.copy()
            b["n_grams"] = res.map(lambda t: t[0])
            b["n_fp"] = res.map(lambda t: t[1])
            b["fp_digest"] = res.map(lambda t: t[2])
            yield b

    return df.mapInPandas(gen, out_schema)


def with_simhash16(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct tokens, engine-exact.

    Per distinct token: the first 4 hex digits of md5(token) supply 16
    bits; each bit contributes +1/-1 to its position; the sign of the sum
    is the fingerprint bit. Everything is md5 + CASE/IN — reproducible in
    any SQL engine (the gate's DuckDB oracle computes the identical
    value).

    Returns (id_col, simhash16 long).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("tok"),
    )
    toks = toks.withColumn("h", F.md5("tok"))
    aggs = []
    for j in range(4):  # hex digit position
        digit = F.expr(f"instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1")
        toks = toks.withColumn(f"_d{j}", digit)
        for k in range(4):  # bit within digit
            ones = [v for v in range(16) if (v >> k) & 1]
            contrib = F.when(F.col(f"_d{j}").isin(ones), 1).otherwise(-1)
            aggs.append(F.sum(contrib).alias(f"_s{j}_{k}"))
    per_doc = toks.groupBy("_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(4):
        for k in range(4):
            bit = F.when(F.col(f"_s{j}_{k}") > 0, 1).otherwise(0)
            fp = fp + bit.cast("long") * F.lit(1 << (4 * j + k)).cast("long")
    return per_doc.select(F.col("_id").alias(id_col), fp.alias("simhash16"))


# --- PII redaction -------------------------------------------------------

# Patterns restricted to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB), so the oracle can run the identical pattern: no backrefs, no
# lookaround, ASCII \b word boundaries only.
DEFAULT_PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}


def with_redacted_text(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
    out_col: str = "redacted",
) -> DataFrame:
    """Redact PII-shaped spans and count what was found.

    Adds ``out_col`` (text with every match replaced by its tag) and one
    ``n_<kind>`` count column per pattern. A training-data scrub this
    common belongs in codegen: the chain of ``regexp_replace`` /
    ``regexp_count`` runs JVM-side per row — no shuffle, no UDF, scales
    as a pure scan-side projection. The SSN pattern must be applied
    before (or ordered after) the phone pattern deliberately: the
    default dict order applies email, then phone, then ssn, and the
    phone/ssn shapes are disjoint (``.`` vs fixed group sizes).
    """
    pats = patterns or DEFAULT_PII_PATTERNS
    out = df
    redacted = F.col(text_col)
    for kind, (pat, tag) in pats.items():
        out = out.withColumn(f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)))
        redacted = F.regexp_replace(redacted, pat, tag)
    return out.withColumn(out_col, redacted)


def with_ngram_repetition(
    df: DataFrame, text_col: str = "text", n: int = 3, method: str = "arrow"
) -> DataFrame:
    """Duplicate word-n-gram fraction — the Gopher/RefinedWeb-style
    within-document repetition quality signal (high values flag boiler-
    plate, keyword stuffing, generation loops).

    Appends ``n_ngrams``, ``n_distinct_ngrams``, and ``dup_ngram_bp`` =
    floor((n_ngrams - n_distinct_ngrams) * 10000 / n_ngrams) (0 for docs
    shorter than ``n`` tokens). Integer basis points, engine-exact.

    ``method='arrow'`` (default): one tokenization pass per document in
    a NumPy/Pandas ``mapInPandas`` stage — per-gram ``concat_ws`` inside
    Spark's higher-order lambdas is interpreted, so the Arrow path wins
    by ~an order of magnitude on long documents. ``method='sql'``: pure
    built-ins, the form the DuckDB oracle mirrors. Both are scan-side
    projections: no shuffle, embarrassingly parallel at any scale.
    """
    if method == "arrow":
        return _ngram_repetition_arrow(df, text_col, n)
    toks = _tokens(F.col(text_col))
    ngr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    out = df.withColumn("_ngr", ngr)
    cnt = F.size("_ngr")
    dis = F.size(F.array_distinct(F.col("_ngr")))
    return (
        out.withColumn("n_ngrams", cnt.cast("long"))
        .withColumn("n_distinct_ngrams", dis.cast("long"))
        .withColumn(
            "dup_ngram_bp",
            F.when(cnt > 0, F.floor((cnt - dis) * 10000 / cnt))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_ngr")
    )


def _ngram_repetition_arrow(df: DataFrame, text_col: str, n: int) -> DataFrame:
    import re

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_ngrams", LongType(), True),
            StructField("n_distinct_ngrams", LongType(), True),
            StructField("dup_ngram_bp", LongType(), True),
        ]
    )
    ws = re.compile(r"\s+")

    def gen(batches):
        def one(text):
            if text is None:
                # PARITY with method='sql': NULL text falls to the
                # empty-array branch there, yielding (0, 0, 0)
                return (0, 0, 0)
            toks = ws.split(text.strip(" "))  # ASCII-space trim = SQL trim()
            total = len(toks) - n + 1
            if total <= 0:
                return (0, 0, 0)
            distinct = len({tuple(toks[i : i + n]) for i in range(total)})
            return (total, distinct, (total - distinct) * 10000 // total)

        for b in batches:
            res = b[text_col].map(one)
            b = b.copy()
            b["n_ngrams"] = res.map(lambda t: t[0])
            b["n_distinct_ngrams"] = res.map(lambda t: t[1])
            b["dup_ngram_bp"] = res.map(lambda t: t[2])
            yield b

    return df.mapInPandas(gen, out_schema)


def char_ngram_counts(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Overlapping character n-gram multiset counts per document:
    ``(id, gram, cnt)``.

    Built-in ``sequence -> transform -> explode`` (one narrow pass), then
    a partial-aggregated groupBy — the explode never leaves the input
    partitioning until the count shuffle, and the gram strings are short
    (n chars), so shuffle volume ≈ n x corpus size worst case. At 100 TB
    the probe-distance use below never shuffles the corpus at all.
    """
    # substring with a dynamic start needs expr(): the Column form takes
    # only literal positions. The CASE guard matters: Spark's
    # sequence(1, 0) DESCENDS to [1, 0], which would emit two phantom
    # truncated grams for every doc shorter than n (and for empty/NULL
    # text) — short docs must yield ZERO gram rows.
    grams = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"transform(sequence(1, length({text_col}) - {n - 1}),"
        f" i -> substring({text_col}, i, {n})) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ngram_distance_to_probe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    probe: str,
    n: int = 3,
    out_col: str = "ngram_dist_bp",
) -> DataFrame:
    """ClickHouse ``ngramDistance(text, probe)`` with a constant probe,
    in integer basis points (0 = identical multisets, 10000 = disjoint).

    Definition (matching ClickHouse's symmetric-difference form):
    ``|A Δ B| / (|A| + |B|)`` over the overlapping character n-gram
    MULTISETS — computed as exact integers:
    ``dist_bp = floor(((|A| + |B| - 2*common) * 10000) / (|A| + |B|))``
    with ``common = Σ_g min(cnt_A(g), cnt_B(g))``.

    Plan shape: per-doc gram counts (one partial-agg shuffle on
    (id, gram)), broadcast join against the probe's ~|probe| distinct
    grams, one more groupBy(id) — the fact table never broadcast-sides
    and the probe side is bytes. Rows shorter than n get |A| = 0
    (distance 10000 unless the probe is also empty).

    Reference surface: ClickHouse string-search-functions.md
    ngramDistance; used for fuzzy matching in curation filters.
    """
    import re as _re

    spark = df.sparkSession
    probe_grams: dict[str, int] = {}
    for i in range(max(len(probe) - n + 1, 0)):
        g = probe[i : i + n]
        probe_grams[g] = probe_grams.get(g, 0) + 1
    size_b = sum(probe_grams.values())
    size_a = F.greatest(F.length(F.col(text_col)) - (n - 1), F.lit(0))
    denom = size_a + F.lit(size_b)
    if len(probe_grams) <= 64:
        # r7 fast path for the common small-probe case: per-gram
        # OVERLAPPING counts via a zero-width-lookahead regexp_count
        # — `(?=g)` matches at every start position of g, so the count
        # is exactly the overlapping-multiset count the explode path
        # computed. The whole distance becomes one narrow map pass:
        # no gram explode, no shuffle, no join-back (measured 3.3s ->
        # 0.42s at sf0.1 with a 19-gram probe; equivalence verified
        # value-for-value). Patterns go through F.lit, so no SQL
        # escaping; re.escape never escapes alphanumerics, which keeps
        # its output valid Java regex. Cost is O(|text| * |probe|) per
        # row — the 64-gram bound keeps that below the explode path's
        # constant; longer probes take the shuffle path below.
        common_e = F.lit(0).cast("long")
        for g, c in sorted(probe_grams.items()):
            cnt = F.regexp_count(
                F.col(text_col), F.lit("(?=" + _re.escape(g) + ")")
            )
            # coalesce: regexp_count(NULL) is NULL and least() skips
            # nulls, so a NULL text would otherwise count as FULL gram
            # overlap (ADVICE r07) — the explode path counts it as 0.
            common_e = common_e + F.least(
                F.coalesce(cnt, F.lit(0)), F.lit(c)
            ).cast("long")
        dist = F.when(denom == 0, F.lit(0)).otherwise(
            ((denom - 2 * common_e) * 10000).cast("bigint") / denom
        )
        return df.withColumn(out_col, F.floor(dist).cast("bigint"))
    # explicit schema: a probe shorter than n yields ZERO grams, and
    # createDataFrame cannot infer a schema from an empty list — the
    # empty-probe branch below is documented behavior, not dead code
    pdf = spark.createDataFrame(
        [(g, c) for g, c in probe_grams.items()],
        "gram string, probe_cnt int",
    )
    counts = char_ngram_counts(df, id_col, text_col, n)
    common = (
        counts.join(F.broadcast(pdf), "gram")
        .groupBy(id_col)
        .agg(F.sum(F.least("cnt", "probe_cnt")).alias("common"))
    )
    joined = df.join(common, id_col, "left").withColumn(
        "common", F.coalesce(F.col("common"), F.lit(0))
    )
    dist = F.when(denom == 0, F.lit(0)).otherwise(
        ((denom - 2 * F.col("common")) * 10000).cast("bigint") / denom
    )
    return joined.withColumn(
        out_col, F.floor(dist).cast("bigint")
    ).drop("common")


#: Gopher rule-set stopwords (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", App. A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_per_10_words: int = 1,
    min_alpha_word_pct: int = 80,
    min_stopwords: int = 2,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, App. A1.1),
    as integer-exact boolean flag columns plus an overall ``gopher_pass``.

    Every ratio threshold is a cross-multiplied INTEGER comparison
    (``3n <= total_len <= 10n`` instead of a float mean), so the flags
    are engine-exact and the filter is one codegen expression chain per
    row — no UDF, no shuffle; at 100 TB this fuses into the scan.

    Rules: word count in [min,max]; mean word length in [3,10]; symbol
    (# or ...) to word ratio <= 0.1; <= 90% of lines bullet-started;
    <= 30% of lines ellipsis-ended; >= 80% of words contain an
    alphabetic char; >= 2 of the 8 Gopher stopwords present.
    """
    stopwords = stopwords if stopwords is not None else GOPHER_STOPWORDS
    t = F.trim(F.col(text_col))
    words = F.split(t, r"\s+")
    n = F.size(words)
    total_len = F.length(F.regexp_replace(t, r"\s+", ""))
    n_hash = F.regexp_count(t, F.lit("#"))
    n_ellipsis = F.regexp_count(t, F.lit(r"\.\.\."))
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    import re as _re

    stop_present = None
    for w in stopwords:
        # regex-escape the word (same as _marker_count): a custom
        # stopword like 'u.s.' must match literally, not as wildcards
        present = (
            F.regexp_count(
                t, F.lit(rf"(?:^|\s){_re.escape(w)}(?=\s|$)")
            )
            > 0
        ).cast("int")
        stop_present = present if stop_present is None else stop_present + present

    out = (
        df.withColumn("g_words", n.cast("long"))
        .withColumn(
            "g_word_count_ok",
            (n >= min_words) & (n <= max_words),
        )
        .withColumn(
            "g_mean_len_ok",
            (total_len >= min_mean_word_len * n)
            & (total_len <= max_mean_word_len * n),
        )
        .withColumn(
            "g_symbol_ok",
            (n_hash + n_ellipsis) * 10 <= n * max_symbol_per_10_words,
        )
        .withColumn("g_bullet_ok", n_bullet * 10 <= n_lines * 9)
        .withColumn("g_ellipsis_ok", n_ell_end * 10 <= n_lines * 3)
        .withColumn(
            "g_alpha_ok", n_alpha_words * 100 >= n * min_alpha_word_pct
        )
        .withColumn("g_stopword_ok", stop_present >= min_stopwords)
    )
    return out.withColumn(
        "gopher_pass",
        F.col("g_word_count_ok")
        & F.col("g_mean_len_ok")
        & F.col("g_symbol_ok")
        & F.col("g_bullet_ok")
        & F.col("g_ellipsis_ok")
        & F.col("g_alpha_ok")
        & F.col("g_stopword_ok"),
    )


def with_hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """fastText-style hashed-feature LINEAR quality scorer with a
    deterministic synthetic weight table — the exact computation shape
    of production quality classifiers (hash token -> bucket -> weight,
    sum), with weights derived from the bucket id instead of trained
    floats so the score is INTEGER-exact and oracle-checkable:

    ``bucket = int(md5(token)[:8], 16) % n_buckets``
    ``weight = (bucket % 2001) - 1000``         (uniform in [-1000, 1000])
    ``quality_logit = sum(weight over tokens)``

    Swapping in real trained weights = replacing the weight expression
    with a broadcast map lookup; the plan shape is unchanged.

    One per-row array fold — no explode, no shuffle; the scorer fuses
    into the scan. (The fold is an interpreted lambda: for corpora where
    per-token Python-side batching wins, the winnowing precedent in this
    module applies — but a linear scorer is ~one hash per token, far
    below the Arrow-switch threshold.)

    Appends ``n_tokens`` and ``quality_logit`` (bigint).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    weight = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        % n_buckets
        % 2001
        - 1000
    )
    logit = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + weight(t)
    )
    return df.withColumn("n_tokens", F.size(toks).cast("long")).withColumn(
        "quality_logit", logit
    )


def with_html_stripped(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text_extracted",
) -> DataFrame:
    """ClickHouse ``extractTextFromHTML`` analogue — the boilerplate
    step of every web-corpus pipeline: drop <script>/<style> subtrees
    and comments, strip remaining tags, decode the five core entities,
    collapse whitespace.

    Pure regexp chain (RE2-compatible: no lookarounds, non-greedy
    subtree matches), so it is codegen in Spark AND replayable verbatim
    as a DuckDB oracle; one projection, no shuffle, fuses into the scan.
    """
    s = F.col(html_col)
    # kill script/style subtrees first (non-greedy, case-insensitive,
    # dot-matches-newline), then comments, then every remaining tag
    s = F.regexp_replace(s, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # LAST: so &amp;lt; decodes to &lt;, not <
    ]:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return df.withColumn(out_col, s)


def ngram_search_to_probe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    probe: str,
    n: int = 3,
    out_col: str = "ngram_search_bp",
) -> DataFrame:
    """ClickHouse ``ngramSearch(text, probe)`` — the ASYMMETRIC sibling
    of ngramDistance: what fraction of the PROBE's n-gram multiset the
    document covers, in basis points (10000 = every probe gram present
    at full multiplicity). Same plan as ngram_distance_to_probe (per-doc
    counts, broadcast probe join — and the same r7 zero-shuffle
    regexp_count fast path for probes of ≤64 distinct grams); a
    containment-style needle finder.
    """
    import re as _re

    spark = df.sparkSession
    probe_grams: dict[str, int] = {}
    for i in range(max(len(probe) - n + 1, 0)):
        g = probe[i : i + n]
        probe_grams[g] = probe_grams.get(g, 0) + 1
    size_b = sum(probe_grams.values())
    if len(probe_grams) <= 64:
        common_e = F.lit(0).cast("long")
        for g, c in sorted(probe_grams.items()):
            cnt = F.regexp_count(
                F.col(text_col), F.lit("(?=" + _re.escape(g) + ")")
            )
            # coalesce: see the distance fast path above — NULL text
            # must count 0 common grams, not full containment.
            common_e = common_e + F.least(
                F.coalesce(cnt, F.lit(0)), F.lit(c)
            ).cast("long")
        sim = (
            F.lit(0)
            if size_b == 0
            else (common_e * 10000).cast("bigint") / size_b
        )
        return df.withColumn(out_col, F.floor(sim).cast("bigint"))
    # explicit schema: a probe shorter than n yields ZERO grams, and
    # createDataFrame cannot infer a schema from an empty list — the
    # empty-probe branch below is documented behavior, not dead code
    pdf = spark.createDataFrame(
        [(g, c) for g, c in probe_grams.items()],
        "gram string, probe_cnt int",
    )
    counts = char_ngram_counts(df, id_col, text_col, n)
    common = (
        counts.join(F.broadcast(pdf), "gram")
        .groupBy(id_col)
        .agg(F.sum(F.least("cnt", "probe_cnt")).alias("common"))
    )
    joined = df.join(common, id_col, "left").withColumn(
        "common", F.coalesce(F.col("common"), F.lit(0))
    )
    sim = (
        F.lit(0)
        if size_b == 0
        else (F.col("common") * 10000).cast("bigint") / size_b
    )
    return joined.withColumn(out_col, F.floor(sim).cast("bigint")).drop(
        "common"
    )


def with_line_repetition(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher's within-document duplicate-LINE metrics (Rae et al.
    2021 A1.1 — the companion to the duplicate n-gram fractions of
    with_ngram_repetition): fraction of lines that are repeats of an
    earlier line, and fraction of characters sitting in those repeat
    copies (first occurrences are not counted as duplicates).

    Adds ``dup_line_bp`` and ``dup_char_bp`` (integer basis points,
    floor; 0 for empty docs). Pure split/distinct/aggregate HOFs —
    fuses into the scan, zero shuffle, exact in any engine.
    """
    lines = F.filter(
        F.split(F.col(text_col), line_sep), lambda l: l != ""
    )
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(lines),
        F.lit(0).cast("long"),
        lambda acc, l: acc + F.length(l),
    )
    return (
        df.withColumn(
            "dup_line_bp",
            F.when(n > 0, ((n - nd) * 10000 / n).cast("long")).otherwise(0),
        )
        .withColumn(
            "dup_char_bp",
            F.when(
                total_chars > 0,
                F.floor(
                    (total_chars - distinct_chars)
                    * 10000
                    / total_chars
                ).cast("long"),
            ).otherwise(0),
        )
    )


def with_char_entropy(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Shannon entropy of each document's CHARACTER distribution, in
    micro-bits (``char_entropy_micro``) — the classic gibberish /
    encoded-blob detector (random base64 ≈ 6 bits, English prose ≈
    4.0-4.5, repeated padding ≪ 1).

    H = log2(n) − Σ c·log2(c) / n over INTEGER counts, micro-rounded
    HALF_UP (q129 precedent: the integer micro-bits absorb libm log2
    wobble AND the engines' differing float-sum association orders).
    Empty and null docs get 0.

    Arrow-batched NumPy, not SQL higher-order functions: the HOF form
    (distinct chars × per-char filter) never enters codegen and ran
    ~7 s at sf0.1; here each batch decodes to codepoint arrays and
    np.unique supplies the histogram — O(len·log alphabet) per row,
    a scan-side projection with zero shuffle.
    """
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("char_entropy_micro", LongType(), False)]
    )

    def gen(batches):
        for b in batches:
            out = np.zeros(len(b), dtype=np.int64)
            for i, t in enumerate(b[text_col]):
                if isinstance(t, str) and t:
                    cp = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    )
                    _, c = np.unique(cp, return_counts=True)
                    c = c.astype(np.float64)
                    n = float(len(cp))
                    h = np.log2(n) - float((c * np.log2(c)).sum()) / n
                    # HALF_UP like round(h*1e6, 0) — h is never negative
                    out[i] = int(np.floor(h * 1_000_000 + 0.5))
            b = b.copy()
            b["char_entropy_micro"] = out
            yield b

    return df.mapInPandas(gen, out_schema)
