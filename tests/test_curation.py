"""Curation operators: chunk/pack/mixture invariants recomputed
independently in Python."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.curation import (
    chunk_documents,
    mixture_sample,
    pack_greedy,
)
from kubenetmon_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def _toks(text):
    return [t for t in re.split(r"\s+", text.strip()) if t]


def test_chunks_without_overlap_reconstruct_documents(spark, docs):
    sample = docs.limit(30)
    chunks = chunk_documents(sample, window=10, overlap=0).collect()
    texts = {r.doc_id: r.text for r in sample.collect()}
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append((c.chunk_idx, c.chunk))
    assert set(by_doc) == {d for d, t in texts.items() if _toks(t)}
    for doc_id, parts in by_doc.items():
        parts.sort()
        assert [i for i, _ in parts] == list(range(len(parts)))
        rebuilt = " ".join(p for _, p in parts).split(" ")
        assert rebuilt == _toks(texts[doc_id])


def test_chunk_overlap_consistency(spark, docs):
    window, overlap = 12, 4
    chunks = chunk_documents(docs.limit(10), window=window, overlap=overlap).collect()
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    for cs in by_doc.values():
        cs.sort(key=lambda c: c.chunk_idx)
        for a, b in zip(cs, cs[1:]):
            a_toks, b_toks = a.chunk.split(" "), b.chunk.split(" ")
            if len(a_toks) == window:
                assert a_toks[-overlap:] == b_toks[: overlap if len(b_toks) >= overlap else len(b_toks)]
            assert b.n_tokens == len(b_toks)


def test_chunk_rejects_bad_params(spark, docs):
    with pytest.raises(ValueError):
        chunk_documents(docs, window=8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(docs, window=8, overlap=-1)


def test_pack_matches_python_recount(spark, docs):
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    packed = pack_greedy(
        d, budget=256, token_col="n_tokens", order_col="doc_id", shard_col="source"
    ).collect()
    by_shard = {}
    for r in sorted(packed, key=lambda r: (r.source, r.doc_id)):
        cum = by_shard.get(r.source, 0)
        assert r.bin == cum // 256
        by_shard[r.source] = cum + r.n_tokens
    # bins are dense from 0 within each shard
    bins = {}
    for r in packed:
        bins.setdefault(r.source, set()).add(r.bin)
    for s, bs in bins.items():
        assert bs == set(range(max(bs) + 1))


def test_mixture_sample_rates_and_independence(spark, docs):
    rates = {"src0": 5000, "src1": 1250}
    kept = mixture_sample(docs, rates, "source", "doc_id", default_bp=0)
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"src0", "src1"}  # default 0 drops the rest
    # per-row decision matches an independent md5 recount
    kept_ids = {(r.source, r.doc_id) for r in kept.collect()}
    for r in docs.collect():
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4]
        thr = {"src0": "8000", "src1": "2000"}.get(r.source)
        expected = thr is not None and h < thr
        assert ((r.source, r.doc_id) in kept_ids) == expected
    # independence: doubling src1's rate leaves src0's kept set unchanged
    kept2 = mixture_sample(docs, {"src0": 5000, "src1": 2500}, "source", "doc_id")
    src0_a = {r.doc_id for r in kept.collect() if r.source == "src0"}
    src0_b = {r.doc_id for r in kept2.collect() if r.source == "src0"}
    assert src0_a == src0_b


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_contamination_full_quote_scores_10000(spark):
    from kubenetmon_spark.operators.contamination import (
        contamination_pairs,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # full quote embedded in a longer doc -> containment 10000
            (1, "xx yy alpha beta gamma delta epsilon zz ww qq"),
            # partial: shares 1 of the 3 bench shingles
            (2, "alpha beta gamma something else entirely here"),
            # no overlap
            (3, "totally different words with no shared trigrams at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        r.corpus_id: r
        for r in contamination_pairs(corpus, bench, threshold_bp=1).collect()
    }
    assert pairs[1].containment_bp == 10000
    assert pairs[2].containment_bp == 3333  # 1/3 floor bp
    assert 3 not in pairs
    clean = decontaminate(corpus, bench, threshold_bp=5000)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]


def test_contamination_asymmetry_vs_jaccard(spark):
    """A short benchmark item fully inside a long doc: containment maxes
    out while Jaccard stays tiny — the reason dedup can't do this job."""
    from kubenetmon_spark.operators.contamination import contamination_pairs
    from kubenetmon_spark.operators.dedup import jaccard_pairs

    long_text = " ".join(f"w{i}" for i in range(300)) + " needle one two three"
    bench = spark.createDataFrame(
        [(7, "needle one two three")], "doc_id long, text string"
    )
    both = spark.createDataFrame(
        [(1, long_text), (7, "needle one two three")], "doc_id long, text string"
    )
    cont = contamination_pairs(
        both.filter("doc_id = 1"), bench, threshold_bp=1
    ).collect()
    assert cont[0].containment_bp == 10000
    jac = jaccard_pairs(both, "doc_id", "text", n=3, threshold_bp=500).collect()
    assert jac == []  # 2 shared / ~300 union < 5%


class TestGopherRules:
    def test_flags_against_python_reference(self, spark):
        import re

        from kubenetmon_spark.operators.text import (
            GOPHER_STOPWORDS,
            with_gopher_rules,
        )

        docs = [
            (0, "the quick brown fox jumps over the lazy dog and that "
                "hound有 " + "word " * 60),
            (1, "a b c d e"),                      # too few words, short mean
            (2, "### ### ### some #tagged text"),   # symbol heavy
            (3, "- one\n- two\n- three\nplain"),    # bullet lines
            (4, "ends badly...\nalso ends...\nok line\nfine here"),
            (5, "1 2 3 4 5 6 7 8 9 10 11 12"),      # no alpha words
            (6, ("solid prose with the usual words and that should have "
                 "plenty of signal to pass every gate " * 3)),
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        got = {r.id: r for r in with_gopher_rules(df, min_words=5).collect()}

        for i, text in docs:
            words = re.split(r"\s+", text.strip())
            n = len(words)
            total_len = sum(len(w) for w in words)
            n_sym = text.count("#") + len(re.findall(r"\.\.\.", text))
            n_alpha = sum(1 for w in words if re.search("[A-Za-z]", w))
            lines = text.split("\n")
            n_bullet = sum(
                1 for l in lines if re.match(r"^[-*•]", l.strip())
            )
            n_ell = sum(
                1
                for l in lines
                if re.search(r"(\.\.\.|…)$", l.strip())
            )
            n_stop = sum(
                1
                for w in GOPHER_STOPWORDS
                if re.search(rf"(?:^|\s){w}(?=\s|$)", text.strip())
            )
            r = got[i]
            assert r.g_word_count_ok == (5 <= n <= 100_000), i
            assert r.g_mean_len_ok == (3 * n <= total_len <= 10 * n), i
            assert r.g_symbol_ok == (n_sym * 10 <= n), i
            assert r.g_bullet_ok == (n_bullet * 10 <= len(lines) * 9), i
            assert r.g_ellipsis_ok == (n_ell * 10 <= len(lines) * 3), i
            assert r.g_alpha_ok == (n_alpha * 100 >= n * 80), i
            assert r.g_stopword_ok == (n_stop >= 2), i

        assert got[2].g_symbol_ok is False
        assert got[5].g_alpha_ok is False
        assert got[6].gopher_pass is True


class TestHashedLinearScore:
    def test_matches_python_reference(self, spark):
        import hashlib
        import re

        from kubenetmon_spark.operators.text import with_hashed_linear_score

        docs = [(0, "alpha beta gamma"), (1, "  x  "), (2, ""),
                (3, "alpha alpha alpha")]
        df = spark.createDataFrame(docs, ["id", "text"])
        got = {
            r.id: (r.n_tokens, r.quality_logit)
            for r in with_hashed_linear_score(df).collect()
        }

        def w(tok):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
            return (b % 2001) - 1000

        for i, text in docs:
            toks = [t for t in re.split(r"\s+", text.strip()) if t]
            assert got[i] == (len(toks), sum(w(t) for t in toks)), i


class TestHtmlStripped:
    def test_nasty_cases(self, spark):
        from kubenetmon_spark.operators.text import with_html_stripped

        cases = [
            (0, "<p>hello <b>world</b></p>", "hello world"),
            (1, "<script>if (a<b) { x('</p>'); }</script>ok", "ok"),
            (2, "<style>p { }</style>text", "text"),
            (3, "<!-- hidden -->shown", "shown"),
            (4, "a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;",
             "a&b <tag> \"q\" 's'"),
            (5, "&amp;lt; stays encoded-ish", "&lt; stays encoded-ish"),
            (6, "  lots   of\n\nspace  ", "lots of space"),
            (7, "<SCRIPT>upper</SCRIPT>case", "case"),
        ]
        df = spark.createDataFrame(
            [(i, h) for i, h, _ in cases], ["id", "html"]
        )
        got = {r.id: r.text_extracted for r in with_html_stripped(df).collect()}
        for i, _, want in cases:
            assert got[i] == want, (i, got[i])


class TestBigramLm:
    def test_matches_python_reference(self, spark):
        import math
        import re
        from collections import Counter

        from kubenetmon_spark.operators.lm import (
            train_bigram_counts,
            with_bigram_logprob,
        )

        docs = [
            (0, "the cat sat on the mat"),
            (1, "the cat ate"),
            (2, "dogs bark"),
            (3, "single"),          # no pairs -> null score
            (4, "the the the"),     # repeated bigram
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        uni, bi = train_bigram_counts(df)
        v = uni.count()
        got = {
            r.doc_id: (r.lp_micro, r.n_pairs)
            for r in with_bigram_logprob(df, uni, bi, v).collect()
        }

        # pure-Python reference
        tok = lambda t: [w for w in re.split(r"\s+", t.strip().lower()) if w]
        cu = Counter(w for _, t in docs for w in tok(t))
        cb = Counter(
            (ts[i - 1], ts[i])
            for _, t in docs
            for ts in [tok(t)]
            for i in range(1, len(ts))
        )
        assert v == len(cu)
        for i, t in docs:
            ts = tok(t)
            if len(ts) < 2:
                assert got[i] == (None, None), i
                continue
            micro = sum(
                round(
                    math.log2((cb[(ts[j - 1], ts[j])] + 1) / (cu[ts[j - 1]] + v))
                    * 1_000_000
                )
                for j in range(1, len(ts))
            )
            assert got[i] == (micro, len(ts) - 1), i

    def test_in_distribution_scores_higher(self, spark):
        from kubenetmon_spark.operators.lm import (
            train_bigram_counts,
            with_bigram_logprob,
        )

        corpus = [(i, "alpha beta gamma delta") for i in range(20)]
        corpus += [(100, "zeta eta theta iota")]
        df = spark.createDataFrame(corpus, ["doc_id", "text"])
        uni, bi = train_bigram_counts(df)
        got = {
            r.doc_id: r.lp_micro / r.n_pairs
            for r in with_bigram_logprob(df, uni, bi, uni.count()).collect()
        }
        # the common document scores far better than the one-off
        assert got[0] > got[100]


class TestTemperatureRates:
    def test_alpha_endpoints(self, spark):
        from kubenetmon_spark.operators.curation import temperature_rates_bp

        sizes = {"big": 100_000, "mid": 10_000, "small": 1_000}
        # alpha=1: natural proportions -> every stratum same rate
        r1 = temperature_rates_bp(sizes, alpha=1.0, budget=11_100)
        assert len({r1[s] for s in sizes}) == 1
        # alpha=0: equal EXPECTED counts per stratum
        r0 = temperature_rates_bp(sizes, alpha=0.0, budget=3_000)
        exp = {s: sizes[s] * r0[s] / 10000 for s in sizes}
        assert max(exp.values()) - min(exp.values()) < 0.02 * max(exp.values())
        # intermediate alpha upweights small strata relative to natural
        r7 = temperature_rates_bp(sizes, alpha=0.7, budget=11_100)
        assert r7["small"] > r7["big"]

    def test_clamp_and_degenerate(self, spark):
        from kubenetmon_spark.operators.curation import temperature_rates_bp

        r = temperature_rates_bp({"tiny": 10, "big": 100000}, 0.0, 50000)
        assert r["tiny"] == 10000  # cannot keep more than everything
        assert temperature_rates_bp({}, 0.5) == {}
        assert temperature_rates_bp({"z": 0}, 0.5) == {"z": 0}

    def test_composes_with_mixture_sample(self, spark):
        from kubenetmon_spark.operators.curation import (
            mixture_sample,
            temperature_rates_bp,
        )

        rows = [(i, "big") for i in range(2000)] + [
            (10_000 + i, "small") for i in range(200)
        ]
        df = spark.createDataFrame(rows, ["id", "src"])
        sizes = {"big": 2000, "small": 200}
        rates = temperature_rates_bp(sizes, alpha=0.0, budget=400)
        kept = mixture_sample(df, rates, "src", "id")
        by = {r.src: r.cnt for r in kept.groupBy("src").agg(
            F.count(F.lit(1)).alias("cnt")).collect()}
        # expected ~200 each; md5 thresholds are approximate — wide band
        assert 120 <= by.get("big", 0) <= 280
        assert 120 <= by.get("small", 0) <= 280


def test_keep_all_rate_keeps_everything(spark):
    """Regression: bp=10000 must keep 100% of rows — the naive hex
    threshold '10000' is lexicographically BELOW 'ffff' and silently
    kept ~1/16."""
    from kubenetmon_spark.operators.curation import mixture_sample
    from kubenetmon_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame([(i, "s") for i in range(500)], ["id", "src"])
    assert deterministic_sample(df, "id", 10000).count() == 500
    assert mixture_sample(df, {"s": 10000}, "src", "id").count() == 500
    # and 0 still drops everything
    assert deterministic_sample(df, "id", 0).count() == 0


class TestC4LineFilter:
    def test_rules(self, spark):
        from kubenetmon_spark.operators.curation import c4_line_filter

        docs = [
            # 3 good lines -> kept
            (0, "here is a full sentence.\nanother proper line here.\n"
                "and one more good line."),
            # short lines + no terminal punctuation -> dropped lines
            (1, "too short\nnope\nalso not ending right here"),
            # javascript line dropped, still 3 good lines -> kept
            (2, "enable javascript to view this page.\n"
                "real content sentence one.\nreal content sentence two.\n"
                "real content sentence three."),
            # lorem ipsum -> doc dropped even with good lines
            (3, "lorem ipsum dolor sit amet etc.\nreal line number one.\n"
                "real line number two.\nreal line number three."),
            # curly brace -> doc dropped
            (4, "function f() { return 1; }\ngood sentence number one.\n"
                "good sentence number two.\ngood sentence number three."),
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        out = c4_line_filter(
            df,
            min_words_per_line=4,
            min_kept_lines=3,
            terminal_chars=".!?\"",
            drop_tokens=("javascript",),
        )
        got = {r.id: r for r in out.collect()}
        assert got[0].c4_keep and got[0].c4_n_kept == 3
        assert not got[1].c4_keep and got[1].c4_n_kept == 0
        assert got[2].c4_keep and got[2].c4_n_kept == 3
        assert "javascript" not in got[2].c4_clean
        assert not got[3].c4_keep  # lorem ipsum tell
        assert not got[4].c4_keep  # brace tell
        # cleaned text preserves original line order
        assert got[0].c4_clean.startswith("here is a full sentence.")

    def test_terminal_disabled(self, spark):
        from kubenetmon_spark.operators.curation import c4_line_filter

        df = spark.createDataFrame(
            [(0, "three words here\nfour more words now")], ["id", "text"]
        )
        out = c4_line_filter(
            df, min_words_per_line=3, min_kept_lines=2, terminal_chars=None
        ).collect()[0]
        assert out.c4_keep and out.c4_n_kept == 2


class TestDedupLines:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        from kubenetmon_spark.operators.curation import dedup_lines

        docs = [
            (1, "cookie banner\nunique alpha\ncookie banner"),
            (2, "cookie banner\nunique beta"),
            (3, "unique alpha\nunique gamma"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.doc_id: r for r in dedup_lines(df, "doc_id").collect()}
        # doc 1 keeps its first 'cookie banner', drops its own repeat
        assert got[1].dedup_text == "cookie banner\nunique alpha"
        assert (got[1].n_lines, got[1].n_kept) == (3, 2)
        # doc 2 loses the banner claimed by doc 1
        assert got[2].dedup_text == "unique beta"
        # doc 3 loses 'unique alpha' (first seen in doc 1)
        assert got[3].dedup_text == "unique gamma"

    def test_fully_claimed_doc_comes_back_empty(self, spark):
        from kubenetmon_spark.operators.curation import dedup_lines

        df = spark.createDataFrame(
            [(1, "only line"), (2, "only line")], ["doc_id", "text"]
        )
        got = {r.doc_id: r for r in dedup_lines(df, "doc_id").collect()}
        assert got[1].dedup_text == "only line"
        assert got[2].dedup_text == "" and got[2].n_kept == 0

    def test_null_id_doc_keeps_computed_output(self, spark):
        # Regression: the empty-doc survival join-back used null-unsafe
        # equality, so a NULL-id document's COMPUTED output was silently
        # replaced by ("", 0, 0) and emitted twice. Null-safe anti-join
        # keeps exactly one row with the real result.
        from kubenetmon_spark.operators.curation import dedup_lines

        df = spark.createDataFrame(
            [(None, "solo line\nanother"), (2, "")],
            "doc_id int, text string",
        )
        rows = dedup_lines(df, "doc_id").collect()
        assert len(rows) == 2
        got = {r.doc_id: r for r in rows}
        assert got[None].dedup_text == "solo line\nanother"
        assert (got[None].n_lines, got[None].n_kept) == (2, 2)
        assert got[2].dedup_text == "" and got[2].n_lines == 0

    def test_duplicate_ids_conflate_to_one_row(self, spark):
        # Contract: one row per DISTINCT id. Duplicate ids conflate on
        # the content path (groupBy) — the empty-doc survival path must
        # match that multiplicity, not emit one row per input row.
        from kubenetmon_spark.operators.curation import dedup_lines

        df = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, ""), (2, "")],
            "doc_id int, text string",
        )
        rows = dedup_lines(df, "doc_id").collect()
        assert sorted(r.doc_id for r in rows) == [1, 2]


class TestSplitDataset:
    def test_partition_is_total_and_stable(self, spark):
        from kubenetmon_spark.operators.curation import split_dataset

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s = split_dataset(
            df, "doc_id", {"train": 8000, "val": 1000, "test": 1000}
        )
        counts = {r.split: r.n for r in
                  s.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 2000
        # roughly proportional (hash uniformity, generous bounds)
        assert 1400 < counts["train"] < 1800
        assert 100 < counts["val"] < 320 and 100 < counts["test"] < 320

        # growing the corpus never reassigns existing rows
        small = {r.doc_id: r.split for r in
                 split_dataset(spark.range(0, 500)
                               .withColumnRenamed("id", "doc_id"),
                               "doc_id",
                               {"train": 8000, "val": 1000, "test": 1000}
                               ).collect()}
        big = {r.doc_id: r.split for r in s.collect()}
        assert all(big[k] == v for k, v in small.items())

    def test_rejects_bad_fractions(self, spark):
        import pytest

        from kubenetmon_spark.operators.curation import split_dataset

        df = spark.range(3).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            split_dataset(df, "doc_id", {"a": 5000, "b": 4000})


class TestSampleNegatives:
    def test_labels_differ_and_deterministic(self, spark):
        from kubenetmon_spark.operators.curation import sample_negatives

        rows = [(i, i % 3) for i in range(60)]
        df = spark.createDataFrame(rows, ["id", "label"])
        a = sample_negatives(df, "id", "label", k=2, buckets=4)
        got = [(r.anchor_id, r.neg_id, r.neg_rank) for r in a.collect()]
        labels = dict(rows)
        for aid, nid, rk in got:
            assert labels[aid] != labels[nid]
            assert 1 <= rk <= 2
        # at most k per anchor
        from collections import Counter

        per = Counter(aid for aid, _, _ in got)
        assert max(per.values()) <= 2
        # partitioning-independent
        b = sample_negatives(
            df.repartition(7), "id", "label", k=2, buckets=4
        )
        assert sorted(got) == sorted(
            (r.anchor_id, r.neg_id, r.neg_rank) for r in b.collect()
        )

    def test_sparse_bucket_returns_fewer(self, spark):
        from kubenetmon_spark.operators.curation import sample_negatives

        # only 2 rows, same label -> no negatives at all
        df = spark.createDataFrame([(1, 0), (2, 0)], ["id", "label"])
        assert sample_negatives(df, "id", "label", k=3, buckets=1).count() == 0

    def test_default_derives_scaled_buckets(self, spark):
        """buckets=None derives max(8, n//256) — for a small corpus
        that's 8, so the default is bit-identical to the old
        buckets=8 literal (q211 parity unchanged)."""
        from kubenetmon_spark.operators.curation import sample_negatives

        rows = [(i, i % 3) for i in range(60)]
        df = spark.createDataFrame(rows, ["id", "label"])
        a = sample_negatives(df, "id", "label", k=2)
        b = sample_negatives(df, "id", "label", k=2, buckets=8)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_constant_buckets_refused_on_large_corpus(self, spark):
        """An explicit constant bucket count whose per-anchor pool
        exceeds the limit on a >10k corpus is the Θ(n²/buckets) shape
        the r6 sf10 sweep wedged on — the operator must refuse it
        BEFORE planning the join, and the default must stay linear
        (derived buckets keep the pool at ~256 regardless of n)."""
        import pytest

        from kubenetmon_spark.operators.curation import (
            NEGATIVE_POOL_TARGET,
            sample_negatives,
        )

        n = 100_000
        df = spark.range(n).select(
            F.col("id"), (F.col("id") % 5).alias("label")
        )
        with pytest.raises(ValueError, match="quadratic|buckets"):
            sample_negatives(df, "id", "label", buckets=8)
        # scaled explicit buckets pass the guard (the q211 gate shape)
        out = sample_negatives(
            df.limit(20_000), "id", "label", buckets=20_000 // 256
        )
        assert out.columns == ["anchor_id", "neg_id", "neg_rank"]
        # the default derives the linear shape: pool stays ~256
        assert n // max(8, n // NEGATIVE_POOL_TARGET) <= 256
        # unsafe override is honored (plan only — don't execute n²/8)
        forced = sample_negatives(
            df, "id", "label", buckets=8, unsafe_fixed_buckets=True
        )
        assert forced.columns == ["anchor_id", "neg_id", "neg_rank"]


class TestDedupSkewStress:
    def test_mega_duplicated_boilerplate_line(self, spark):
        """The worst case for the line-dedup shuffle: one line shared
        by EVERY document (a cookie banner). All copies land in one
        partition's sort run; the operator must stay correct and keep
        exactly the first."""
        from kubenetmon_spark.operators.curation import dedup_lines

        n = 2000
        rows = [
            (i, f"cookie banner\nunique line {i}\ncookie banner")
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)
        out = dedup_lines(df, "doc_id")
        agg = out.agg(
            F.sum("n_lines").alias("sl"), F.sum("n_kept").alias("sk")
        ).collect()[0]
        assert agg.sl == 3 * n
        # kept: n unique lines + exactly ONE banner copy
        assert agg.sk == n + 1
        first = out.filter(F.col("doc_id") == 0).collect()[0]
        assert first.dedup_text.startswith("cookie banner")
        later = out.filter(F.col("doc_id") == n - 1).collect()[0]
        assert "cookie banner" not in later.dedup_text


class TestDedupLinesIncremental:
    def test_sequence_of_batches_equals_one_batch(self, spark):
        from kubenetmon_spark.operators.curation import (
            dedup_lines,
            dedup_lines_incremental,
        )

        docs = [
            (1, "banner\nalpha"),
            (2, "banner\nbeta"),
            (3, "alpha\ngamma"),
            (4, "gamma\ndelta\nbanner"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        whole = {
            r.doc_id: (r.dedup_text, r.n_lines, r.n_kept)
            for r in dedup_lines(df, "doc_id").collect()
        }
        # two increments: docs 1-2, then docs 3-4 against the index
        b1 = df.filter("doc_id <= 2")
        b2 = df.filter("doc_id > 2")
        out1, idx = dedup_lines_incremental(b1, None, "doc_id")
        out2, idx2 = dedup_lines_incremental(b2, idx, "doc_id")
        got = {
            r.doc_id: (r.dedup_text, r.n_lines, r.n_kept)
            for r in out1.unionByName(out2).collect()
        }
        assert got == whole
        # final index = all distinct surviving lines
        assert sorted(r.line for r in idx2.collect()) == [
            "alpha", "banner", "beta", "delta", "gamma",
        ]

    def test_fully_seen_doc_comes_back_empty(self, spark):
        from kubenetmon_spark.operators.curation import (
            dedup_lines_incremental,
        )

        idx = spark.createDataFrame([("x",), ("y",)], ["line"])
        df = spark.createDataFrame([(9, "x\ny")], ["doc_id", "text"])
        out, idx2 = dedup_lines_incremental(df, idx, "doc_id")
        r = out.collect()[0]
        assert r.dedup_text == "" and r.n_kept == 0 and r.n_lines == 2
        assert idx2.count() == 2


class TestLineRepetition:
    def test_fractions_against_hand_counts(self, spark):
        from kubenetmon_spark.operators.text import with_line_repetition

        docs = [
            # 4 lines, 'aa' repeated once -> 1/4 lines, 2/8 chars dup
            (1, "aa\nbb\naa\ncc"),
            (2, "unique\nlines\nonly"),
            (3, ""),
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        got = {r.id: r for r in with_line_repetition(df).collect()}
        assert got[1].dup_line_bp == 2500
        assert got[1].dup_char_bp == 2500  # 2 of 8 chars in repeats
        assert got[2].dup_line_bp == 0 and got[2].dup_char_bp == 0
        assert got[3].dup_line_bp == 0 and got[3].dup_char_bp == 0

    def test_no_shuffle(self, spark):
        from kubenetmon_spark.operators.text import with_line_repetition

        df = spark.createDataFrame([(1, "a\nb")], ["id", "text"])
        plan = (
            with_line_repetition(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestCharEntropy:
    def test_known_distributions(self, spark):
        import math

        from kubenetmon_spark.operators.text import with_char_entropy

        docs = [
            (1, "aaaa"),          # 0 bits
            (2, "abab"),          # 1 bit
            (3, "abcd"),          # 2 bits
            (4, ""),              # empty -> 0
        ]
        df = spark.createDataFrame(docs, ["id", "text"])
        got = {r.id: r.char_entropy_micro for r in with_char_entropy(df).collect()}
        assert got[1] == 0
        assert got[2] == 1_000_000
        assert got[3] == 2_000_000
        assert got[4] == 0
        # matches a python reference on mixed text
        text = "hello world entropy check"
        df2 = spark.createDataFrame([(1, text)], ["id", "text"])
        h = with_char_entropy(df2).collect()[0].char_entropy_micro
        from collections import Counter

        n = len(text)
        ref = -sum(
            (c / n) * math.log2(c / n) for c in Counter(text).values()
        )
        assert abs(h - round(ref * 1e6)) <= 2

    def test_no_shuffle(self, spark):
        from kubenetmon_spark.operators.text import with_char_entropy

        df = spark.createDataFrame([(1, "xy")], ["id", "text"])
        plan = (
            with_char_entropy(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestRedactPii:
    def test_each_pattern_replaces_and_counts(self, spark):
        from kubenetmon_spark.operators.curation import redact_pii

        df = spark.createDataFrame(
            [
                (1, "mail a.b+c@ex-ample.org here"),
                (2, "ssn 123-45-6789 phone 555-123-4567"),
                (3, "host 192.168.0.1 card 4111111111111111"),
                (4, "clean text, nothing to scrub"),
            ],
            ["id", "text"],
        )
        got = {r.id: r for r in redact_pii(df).collect()}
        assert got[1].redacted == "mail <EMAIL> here"
        assert (got[1].n_email, got[1].n_ssn) == (1, 0)
        assert got[2].redacted == "ssn <SSN> phone <PHONE>"
        assert (got[2].n_ssn, got[2].n_phone) == (1, 1)
        assert got[3].redacted == "host <IP> card <NUMBER>"
        assert (got[3].n_ipv4, got[3].n_number) == (1, 1)
        assert got[4].redacted == got[4].text
        assert (
            got[4].n_email + got[4].n_ssn + got[4].n_phone
            + got[4].n_ipv4 + got[4].n_number
        ) == 0

    def test_sequential_no_double_count(self, spark):
        from kubenetmon_spark.operators.curation import redact_pii

        # the email's digits must not re-match as a number run, and the
        # replaced phone's digits must not feed the card pattern
        df = spark.createDataFrame(
            [(1, "x 12345678901234@ex.com y 555-123-4567 z")], ["id", "text"]
        )
        r = redact_pii(df).collect()[0]
        assert r.redacted == "x <EMAIL> y <PHONE> z"
        assert (r.n_email, r.n_phone, r.n_number) == (1, 1, 0)

    def test_plan_no_shuffle_and_empty(self, spark):
        from kubenetmon_spark.operators.curation import redact_pii

        df = spark.createDataFrame([(1, "a@b.co")], ["id", "text"])
        plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        empty = spark.createDataFrame([], "id long, text string")
        assert redact_pii(empty).count() == 0


class TestShardPackBalanced:
    def _spec(self, rows, n):
        """sequential serpentine deal over (tokens desc, id) order."""
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        out = {}
        for rank, (i, _) in enumerate(order):
            p = rank % (2 * n)
            out[i] = p if p < n else 2 * n - 1 - p
        return out

    def test_matches_spec_and_is_partitioning_invariant(self, spark):
        from kubenetmon_spark.operators.curation import shard_pack_balanced

        rows = [
            (i, int(hashlib.md5(str(i).encode()).hexdigest()[:3], 16))
            for i in range(500)
        ]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        want = self._spec(rows, 4)
        got = {
            r.doc_id: r._shard
            for r in shard_pack_balanced(df, 4, "n_tokens", "doc_id").collect()
        }
        assert got == want
        # same logical result from a different input partitioning and a
        # different rank-partition count
        got2 = {
            r.doc_id: r._shard
            for r in shard_pack_balanced(
                df.repartition(17), 4, "n_tokens", "doc_id", n_rank_partitions=5
            ).collect()
        }
        assert got2 == want

    def test_token_balance(self, spark):
        from kubenetmon_spark.operators.curation import shard_pack_balanced

        rows = [
            (i, int(hashlib.md5(str(i).encode()).hexdigest()[:3], 16))
            for i in range(1000)
        ]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        sums = {
            r._shard: r.s
            for r in shard_pack_balanced(df, 8, "n_tokens", "doc_id")
            .groupBy("_shard")
            .agg(F.sum("n_tokens").alias("s"))
            .collect()
        }
        assert len(sums) == 8
        # serpentine with descending sizes: spread bounded by the
        # largest document (loose 2x slack for round remainders)
        assert max(sums.values()) - min(sums.values()) <= 2 * max(
            t for _, t in rows
        )

    def test_ranks_are_a_permutation(self, spark):
        from kubenetmon_spark.operators.curation import shard_pack_balanced

        df = spark.createDataFrame(
            [(i, 7) for i in range(100)], "doc_id long, n_tokens long"
        )  # all ties: id breaks them
        ranks = sorted(
            r._rank for r in shard_pack_balanced(df, 3, "n_tokens", "doc_id").collect()
        )
        assert ranks == list(range(100))

    def test_more_shards_than_rows_and_empty(self, spark):
        from kubenetmon_spark.operators.curation import shard_pack_balanced

        df = spark.createDataFrame(
            [(1, 5), (2, 9)], "doc_id long, n_tokens long"
        )
        got = {
            r.doc_id: r._shard
            for r in shard_pack_balanced(df, 10, "n_tokens", "doc_id").collect()
        }
        assert got == {2: 0, 1: 1}  # 9 tokens ranks first
        empty = df.limit(0)
        assert shard_pack_balanced(empty, 4, "n_tokens", "doc_id").count() == 0
        with pytest.raises(ValueError):
            shard_pack_balanced(df, 0, "n_tokens", "doc_id")


class TestMixtureEpochs:
    def _spec(self, rows, targets):
        """sequential spec: (id, epoch) kept iff epoch < full, or
        epoch == full and md5(id|epoch) under the remainder bps."""
        from collections import defaultdict

        totals = defaultdict(int)
        for i, s, t in rows:
            totals[s] += t
        out = set()
        for i, s, t in rows:
            n, tgt = totals[s], targets.get(s, 0)
            if n <= 0 or tgt <= 0:
                continue
            full, bp = tgt // n, (tgt % n) * 10000 // n
            thr = format(65536 * bp // 10000, "04x")
            for e in range(full + 1):
                if e < full or hashlib.md5(f"{i}|{e}".encode()).hexdigest()[:4] < thr:
                    out.add((i, e))
        return out

    ROWS = [
        (i, f"s{i % 3}", 10 + (i % 7)) for i in range(120)
    ]  # three strata, varied sizes

    def test_matches_spec(self, spark):
        from kubenetmon_spark.operators.curation import mixture_epochs

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, source string, n_tokens long"
        )
        n = {s: sum(t for _, src, t in self.ROWS if src == s) for s in ("s0", "s1", "s2")}
        targets = {"s0": n["s0"] * 7 // 2, "s1": n["s1"] // 5}  # s2 absent
        got = {
            (r.doc_id, r.epoch)
            for r in mixture_epochs(
                df, targets, "n_tokens", "source", "doc_id"
            ).collect()
        }
        assert got == self._spec(self.ROWS, targets)
        assert not any(i % 3 == 2 for i, _ in got)  # s2 absent => dropped

    def test_exact_multiple_has_no_partial_epoch(self, spark):
        from kubenetmon_spark.operators.curation import mixture_epochs

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, source string, n_tokens long"
        )
        n0 = sum(t for _, s, t in self.ROWS if s == "s0")
        out = mixture_epochs(df, {"s0": 3 * n0}, "n_tokens", "source", "doc_id")
        per_epoch = {
            r.epoch: r.n
            for r in out.groupBy("epoch").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_docs = sum(1 for _, s, _ in self.ROWS if s == "s0")
        assert per_epoch == {0: n_docs, 1: n_docs, 2: n_docs}

    def test_token_budget_approx(self, spark):
        from kubenetmon_spark.operators.curation import mixture_epochs

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, source string, n_tokens long"
        )
        n0 = sum(t for _, s, t in self.ROWS if s == "s0")
        tgt = n0 * 5 // 2
        out = mixture_epochs(df, {"s0": tgt}, "n_tokens", "source", "doc_id")
        got = out.agg(F.sum("n_tokens")).collect()[0][0]
        # document-level hash selection: within ~25% of the budget on
        # this small fixture, exact on the whole-epoch part
        assert abs(got - tgt) <= n0 // 4

    def test_empty_and_no_targets(self, spark):
        from kubenetmon_spark.operators.curation import mixture_epochs

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, source string, n_tokens long"
        )
        assert mixture_epochs(df, {}, "n_tokens", "source", "doc_id").count() == 0
        empty = df.limit(0)
        assert (
            mixture_epochs(empty, {"s0": 10}, "n_tokens", "source", "doc_id").count()
            == 0
        )

    def test_non_string_stratum_column(self, spark):
        from kubenetmon_spark.operators.curation import mixture_epochs

        df = spark.createDataFrame(
            [(i, i % 2, 10) for i in range(40)],
            "doc_id long, bucket int, n_tokens long",
        )
        out = mixture_epochs(df, {0: 400, 1: 200}, "n_tokens", "bucket", "doc_id")
        per = {
            r.bucket: r.n
            for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert per == {0: 40, 1: 20}  # 2 epochs of bucket 0, 1 of bucket 1


class TestEmbeddingContamination:
    def _vecs(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_planted_copy_flagged_exact(self, spark):
        from kubenetmon_spark.operators.contamination import (
            embedding_contamination_pairs,
        )

        bench = self._vecs(spark, [(0, [1.0, 0.0, 0.0])])
        corpus = self._vecs(
            spark,
            [
                (10, [2.0, 0.0, 0.0]),     # same direction -> 10000
                (11, [0.0, 1.0, 0.0]),     # orthogonal -> 0
                (12, [1.0, 1.0, 0.0]),     # 45 deg -> 7071
                (13, [0.0, 0.0, 0.0]),     # zero norm -> NULL, never matches
            ],
        )
        got = {
            (r.corpus_id, r.bench_id): r.cosine_bp
            for r in embedding_contamination_pairs(
                corpus, bench, threshold_bp=7000
            ).collect()
        }
        assert got == {(10, 0): 10000, (12, 0): 7071}

    def test_lsh_subset_of_exact_at_dup_threshold(self, spark):
        from kubenetmon_spark.operators.contamination import (
            embedding_contamination_pairs,
        )

        import random

        rng = random.Random(3)
        dim = 16
        bench_rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(4)
        ]
        corpus_rows = [
            (100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(30)
        ] + [(200 + i, v) for i, v in enumerate(r[1] for r in bench_rows)]
        bench = self._vecs(spark, bench_rows)
        corpus = self._vecs(spark, corpus_rows)
        exact = {
            (r.corpus_id, r.bench_id)
            for r in embedding_contamination_pairs(
                corpus, bench, threshold_bp=10000
            ).collect()
        }
        lsh = {
            (r.corpus_id, r.bench_id)
            for r in embedding_contamination_pairs(
                corpus, bench, threshold_bp=10000, method="lsh"
            ).collect()
        }
        planted = {(200 + i, i) for i in range(4)}
        assert lsh <= exact
        # exact-direction copies agree on every band key -> never missed
        assert planted <= lsh

    def test_max_benchmark_tripwire(self, spark):
        from kubenetmon_spark.operators.contamination import (
            embedding_contamination_pairs,
        )

        bench = self._vecs(spark, [(i, [1.0, 0.0]) for i in range(5)])
        corpus = self._vecs(spark, [(10, [1.0, 0.0])])
        with pytest.raises(ValueError):
            embedding_contamination_pairs(
                corpus, bench, max_benchmark=4
            )


class TestLeakageSafeSplit:
    def test_cluster_members_share_split(self, spark):
        from kubenetmon_spark.operators.sampling import leakage_safe_split

        docs = spark.createDataFrame(
            [(i,) for i in range(20)], "doc_id long"
        )
        pairs = spark.createDataFrame(
            [(1, 5), (5, 9), (2, 3)], "id_1 long, id_2 long"
        )
        out = leakage_safe_split(docs, pairs, "doc_id", train_bp=5000)
        rows = {r.doc_id: r for r in out.collect()}
        assert len(rows) == 20
        # chained cluster {1,5,9} -> rep 1, shared fate
        assert {rows[i].cluster_rep for i in (1, 5, 9)} == {1}
        assert len({rows[i].split for i in (1, 5, 9)}) == 1
        assert {rows[i].cluster_rep for i in (2, 3)} == {2}
        assert rows[2].split == rows[3].split
        # singletons are their own cluster
        assert rows[7].cluster_rep == 7
        # the split decision is hash_keep(rep), verified directly
        from kubenetmon_spark.operators.sampling import hash_keep
        from pyspark.sql import functions as F

        expect = {
            r.doc_id: "train" if r.keep else "test"
            for r in docs.select(
                "doc_id", hash_keep(F.col("doc_id"), 5000).alias("keep")
            ).collect()
        }
        for i in (0, 4, 6, 7, 8):  # singleton docs: rep == id
            assert rows[i].split == expect[i]

    def test_empty_pairs_is_plain_hash_split(self, spark):
        from kubenetmon_spark.operators.sampling import leakage_safe_split

        docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        pairs = spark.createDataFrame([], "id_1 long, id_2 long")
        out = leakage_safe_split(docs, pairs, "doc_id", train_bp=10000)
        rows = out.collect()
        assert len(rows) == 10
        assert all(r.split == "train" for r in rows)
        assert all(r.cluster_rep == r.doc_id for r in rows)


class TestNgramNovelty:
    def test_hand_computed(self, spark):
        from kubenetmon_spark.operators.curation import ngram_novelty

        docs = spark.createDataFrame(
            [
                (1, "a b c d"),        # grams: "a b c", "b c d"
                (2, "x y z w"),        # grams: "x y z", "y z w"
            ],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame(
            [(9, "a b c d e")],  # contains "a b c" and "b c d"
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in ngram_novelty(docs, ref, n=3).collect()
        }
        assert (got[1].total_grams, got[1].novel_grams) == (2, 0)
        assert got[1].novelty_bp == 0
        assert (got[2].total_grams, got[2].novel_grams) == (2, 2)
        assert got[2].novelty_bp == 10000

    def test_short_doc_and_broadcast_path(self, spark):
        from kubenetmon_spark.operators.curation import ngram_novelty

        docs = spark.createDataFrame(
            [(1, "only two")], "doc_id long, text string"
        )
        ref = spark.createDataFrame(
            [(9, "nothing shared here")], "doc_id long, text string"
        )
        # n=2 grams; broadcast path must agree with default
        a = ngram_novelty(docs, ref, n=2).collect()
        b = ngram_novelty(docs, ref, n=2, broadcast_reference=True).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert a[0].novelty_bp == 10000
