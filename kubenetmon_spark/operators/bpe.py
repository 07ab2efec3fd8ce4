"""Byte-pair encoding: distributed merge training + memoized application.

The reference's engine class stores token statistics the pipeline
computes elsewhere; a training-data engine should compute them itself.
``text.py::with_bpe_token_stats`` covers the regex PRE-tokenizer; this
module adds the actual BPE layer:

- ``bpe_train``: learn merge rules from the corpus. The classic
  optimization applies — aggregate the corpus to DISTINCT WORDS with
  counts first (one shuffle over tokens, after which corpus size no
  longer matters), then iterate: count weighted adjacent symbol pairs
  -> take the global argmax -> splice that pair in every word's symbol
  array. Each merge round is one shuffle over the (small) word table;
  the driver receives only the single winning pair. A vocabulary under
  the ``tables.driver_table`` ceiling instead moves to the driver once
  and the whole loop runs there.
  Determinism: ties on count break lexicographically, so any engine
  and any partitioning produce the same merge list.
- ``bpe_apply``: tokenize documents with a learned merge list. Runs in
  ``mapInPandas`` with the merge ranks broadcast as a plain dict and a
  per-batch WORD CACHE — natural-language corpora repeat words heavily
  (Zipf), so the merge loop runs once per distinct word per batch, not
  once per occurrence. Per-word cost is the standard O(len^2) greedy
  lowest-rank-first merge loop, identical to the reference BPE
  algorithm (Sennrich et al. 2016; GPT-2's encoder applies the same
  rule), so results match any faithful implementation token-for-token.

Scale: training cost = merges x shuffle(|vocab|); application is an
embarrassingly parallel scan whose Python stage is Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kubenetmon_spark.tables import driver_table

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_train_driver(tbl, num_merges: int) -> list[tuple[str, str]]:
    """bpe_train's merge loop over the (syms, cnt) vocabulary table —
    bit-identical to the distributed rounds: the same position-weighted
    pair counts (repeated pairs inside one word count per position),
    the same (count desc, left, right) argmax (Python code-point string
    order == Spark's UTF8 binary order), the same greedy left-to-right
    splice as the JVM fold, the same <2-count stop. Incremental
    maintenance: after a merge only the words that contained the pair
    are re-counted (the pair->words index may hold stale entries — a
    stale word's subtract/re-add cancels exactly)."""
    from collections import defaultdict

    words = tbl["syms"].to_pylist()
    cnts = tbl["cnt"].to_pylist()
    pair_counts: dict = defaultdict(int)
    index: dict = defaultdict(set)
    for wi, syms in enumerate(words):
        c = cnts[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += c
            index[p].add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        (left, right), c = min(
            pair_counts.items(),
            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )
        if c < 2:
            break
        merges.append((left, right))
        merged = left + right
        for wi in list(index.get((left, right), ())):
            syms = words[wi]
            c_w = cnts[wi]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= c_w
                if pair_counts[p] == 0:
                    del pair_counts[p]
            out: list = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] += c_w
                index[p].add(wi)
        index.pop((left, right), None)
    return merges


def bpe_train(
    df: DataFrame, text_col: str = "text", num_merges: int = 50
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merge rules from the corpus.

    Words are whitespace tokens split into single characters (no
    end-of-word marker — a documented simplification; add one by
    appending a sentinel symbol to the initial split if needed).
    Returns the merge list in application order.
    """
    words = _word_counts(df, text_col).withColumn(
        # (?!^)(?=.) = every inter-character position: not at the start,
        # and with a character still ahead (plain (?!^) would leave a
        # trailing empty symbol — Spark's split keeps trailing empties)
        "syms", F.split(F.col("word"), "(?!^)(?=.)")
    ).select("syms", "cnt").localCheckpoint(eager=True)

    # Scale-adaptive algorithm choice (the graph/kmeans driver-path
    # pattern, guide §1.2/§5): the merge loop's state is the DISTINCT
    # VOCABULARY — already bounded and corpus-size-independent — and
    # each distributed round pays an explode+shuffle+limit-collect of
    # stage scheduling for counts a dict updates in microseconds. A
    # vocabulary row is charged 64 cells (symbol arrays vary in length):
    # 2^16 distinct words reach the driver.
    tbl = driver_table(words, 64)
    if tbl is not None:
        return _bpe_train_driver(tbl, num_merges)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        left, right = top[0]["p"]["l"], top[0]["p"]["r"]
        merges.append((left, right))
        merged = left + right
        # splice the winning pair inside every word's symbol array with
        # a single forward fold — JVM-side, no Python
        spliced = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right))
                # guard: the element_at(-1) == left must itself not be the
                # RESULT of a merge happening at this position pair-by-pair;
                # a left-fold merges greedily left-to-right exactly like
                # the sequential splice
                ,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        words = words.select(spliced.alias("syms"), "cnt").localCheckpoint(
            eager=True
        )
    return merges


def _apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge loop (the canonical BPE apply)."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # merge ALL occurrences of that pair left-to-right
        pair = (syms[best], syms[best + 1])
        out = []
        i = 0
        while i < len(syms):
            if (
                i < len(syms) - 1
                and (syms[i], syms[i + 1]) == pair
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


TOKENS_SCHEMA_FIELDS = [
    StructField("n_bpe_tokens", LongType(), True),
    StructField("bpe_tokens", ArrayType(StringType()), True),
]


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str,
    text_col: str = "text",
    keep_tokens: bool = False,
) -> DataFrame:
    """Tokenize with a learned merge list -> (id, n_bpe_tokens
    [, bpe_tokens]). Word results are memoized per Arrow batch."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = StructType(
        [StructField(id_col, LongType(), False)]
        + (TOKENS_SCHEMA_FIELDS if keep_tokens else TOKENS_SCHEMA_FIELDS[:1])
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def tok(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = _apply_merges(word, ranks)
                cache[word] = got
            return got

        for pdf in it:
            ns, toks_col = [], []
            for text in pdf[text_col]:
                if text is None:
                    ns.append(None)
                    toks_col.append(None)
                    continue
                toks: list[str] = []
                for w in text.strip(" ").split():
                    toks.extend(tok(w))
                ns.append(len(toks))
                toks_col.append(toks)
            out = {id_col: pdf[id_col], "n_bpe_tokens": ns}
            if keep_tokens:
                out["bpe_tokens"] = toks_col
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).mapInPandas(batches, out_schema)
