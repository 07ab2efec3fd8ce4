"""BPE training + application vs an independent pure-Python reference
(Sennrich-style trainer, GPT-2-style applier)."""

from __future__ import annotations

import random
from collections import Counter

from kubenetmon_spark.operators.bpe import bpe_apply, bpe_train


def _py_train(corpus: list[str], num_merges: int) -> list[tuple[str, str]]:
    words = Counter()
    for doc in corpus:
        for w in doc.strip(" ").split():
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, cnt in words.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        # max count, ties lexicographic (same rule as bpe_train)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (l, r), _ = best
        merges.append((l, r))
        for w in vocab:
            syms = vocab[w]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def _py_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """GPT-2 encoder style: repeatedly merge the lowest-rank pair."""
    ranks = {p: i for i, p in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        candidates = [
            (ranks[(a, b)], (a, b))
            for a, b in zip(syms, syms[1:])
            if (a, b) in ranks
        ]
        if not candidates:
            break
        _, (l, r) = min(candidates)
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


WORDS = ["spark", "sparks", "parquet", "partition", "part", "stream",
         "streaming", "shuffle", "shard", "share", "merge", "merges"]


def _corpus(seed: int, n_docs: int = 40) -> list[str]:
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 15)))
        for _ in range(n_docs)
    ]


def test_train_matches_python_reference(spark):
    corpus = _corpus(3)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
    got = bpe_train(df, "text", num_merges=12)
    exp = _py_train(corpus, 12)
    assert got == exp


def test_apply_matches_gpt2_style_reference(spark):
    corpus = _corpus(7)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
    merges = _py_train(corpus, 10)
    out = {
        r.doc_id: r.bpe_tokens
        for r in bpe_apply(df, merges, "doc_id", "text", keep_tokens=True).collect()
    }
    for i, doc in enumerate(corpus):
        exp = []
        for w in doc.split():
            exp.extend(_py_apply(w, merges))
        assert out[i] == exp, i


def test_apply_counts_and_empty(spark):
    df = spark.createDataFrame([(1, "aa aa ab"), (2, None)], ["doc_id", "text"])
    merges = [("a", "a")]
    rows = {r.doc_id: r.n_bpe_tokens for r in bpe_apply(df, merges, "doc_id").collect()}
    assert rows[1] == 4  # [aa] [aa] [a b]
    assert rows[2] is None


def test_train_stops_when_no_repeats(spark):
    df = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    assert bpe_train(df, "text", num_merges=5) == []


def test_bpe_train_driver_path_identical_to_distributed(spark):
    """r8: small vocabularies train on the driver; the merge list must
    be bit-identical to the distributed per-round loop — including
    count ties (lexicographic break), repeated pairs within one word
    ('aaa' counts (a,a) twice), and the <2-count stop."""
    import random

    import kubenetmon_spark.operators.bpe as B
    from kubenetmon_spark import tables

    rng = random.Random(31)
    vocab = ["low", "lower", "lowest", "newer", "wider", "new",
             "aaa", "aaaa", "ab", "ba", "xyzzy", "Zebra", "zebra"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 9))))
        for i in range(120)
    ]
    rows.append((998, "   "))
    rows.append((999, "singleton"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    local = B.bpe_train(df, "text", num_merges=24)
    saved = tables.DRIVER_SOLVE_CELLS
    tables.DRIVER_SOLVE_CELLS = 0  # force the distributed loop
    try:
        dist = B.bpe_train(df, "text", num_merges=24)
    finally:
        tables.DRIVER_SOLVE_CELLS = saved
    assert local == dist and len(local) > 0
