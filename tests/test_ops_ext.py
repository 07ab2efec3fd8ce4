"""Unit tests for the LLM-pipeline extension operators: similarity search,
multimodal media plumbing, BPE pre-tokenizer, winnowing fingerprints."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.media import (
    decode_image,
    extract_media_features,
    media_from_text,
    resample_audio,
    sample_frames,
)
from kubenetmon_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
)
from kubenetmon_spark.operators.text import with_bpe_token_stats, with_winnow_fingerprint


@pytest.fixture(scope="module")
def vectors(spark):
    # 40 deterministic 8-dim vectors; vec 7 and 37 are scaled copies
    rows = []
    for i in range(40):
        v = [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
        rows.append((i, v))
    rows[37] = (37, [x * 2.0 for x in rows[7][1]])  # same direction as 7
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_near_dup_finds_scaled_copy(vectors):
    pairs = cosine_near_dup_pairs(vectors, threshold_bp=9999).collect()
    assert (7, 37) in [(r.id_1, r.id_2) for r in pairs]


def test_cosine_near_dup_methods_agree(vectors):
    # exact-direction duplicates agree on every LSH band, so at a
    # 0.9999 threshold all three methods must return identical pairs
    got = {}
    for m in ("lsh", "blocked", "broadcast_matrix", "sql"):
        rows = cosine_near_dup_pairs(
            vectors, threshold_bp=9999, method=m
        ).collect()
        got[m] = sorted((r.id_1, r.id_2, r.cosine_bp) for r in rows)
    # 'blocked' is the legacy alias for 'lsh'
    assert got["lsh"] == got["blocked"] == got["broadcast_matrix"] == got["sql"]


def test_cosine_exact_methods_scale_guard(vectors):
    # exact all-pairs methods refuse unbounded corpora (q22 posture)
    for m in ("sql", "broadcast_matrix"):
        with pytest.raises(ValueError, match="unguarded limit"):
            cosine_near_dup_pairs(
                vectors, threshold_bp=9999, method=m, unguarded_limit=10
            ).count()
    # opt-in forces it; the LSH default has no limit
    assert (
        cosine_near_dup_pairs(
            vectors,
            threshold_bp=9999,
            method="sql",
            unguarded_limit=10,
            unsafe_exact=True,
        ).count()
        > 0
    )
    assert (
        cosine_near_dup_pairs(
            vectors, threshold_bp=9999, method="lsh", unguarded_limit=10
        ).count()
        > 0
    )


def test_cosine_lsh_subset_of_exact(vectors):
    # the approximate default may MISS borderline pairs but must never
    # emit a pair the exact method would not (re-rank is exact)
    lsh = {
        (r.id_1, r.id_2, r.cosine_bp)
        for r in cosine_near_dup_pairs(
            vectors, threshold_bp=9500, method="lsh"
        ).collect()
    }
    exact = {
        (r.id_1, r.id_2, r.cosine_bp)
        for r in cosine_near_dup_pairs(
            vectors, threshold_bp=9500, method="sql"
        ).collect()
    }
    assert lsh <= exact
    # exact-direction duplicates are never missed at any threshold
    assert (7, 37, 10000) in lsh


def test_cosine_near_dup_default_path_no_driver_collect(vectors, monkeypatch):
    # the default (lsh) path must be fully distributed: constructing
    # AND executing the plan may never pull the corpus to the driver
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # pragma: no cover - fails the test if hit
        raise AssertionError("driver-side toPandas() in default path")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(
        DataFrame, "collect", lambda self, *a, **k: _boom(self)
    )
    df = cosine_near_dup_pairs(vectors, threshold_bp=9999)
    monkeypatch.undo()
    assert (7, 37) in [(r.id_1, r.id_2) for r in df.collect()]


def test_ivf_contains_exact_top1(vectors):
    q = vectors.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("qv"))
    bf = [r.vec_id for r in brute_force_topk(vectors, q, k=5).collect()]
    iv = [r.vec_id for r in ivf_topk(vectors, q, k=5, n_centroids=8, n_probe=4).collect()]
    assert len(iv) == 5
    assert bf[0] in iv  # the exact best must survive a 4/8 probe
    assert len(set(bf) & set(iv)) >= 3  # decent recall on tiny data


def test_signlsh_query_finds_itself(vectors):
    from kubenetmon_spark.operators.similarity import signlsh_topk

    q = vectors.filter(F.col("vec_id") == 5).select(F.col("embedding").alias("qv"))
    rows = signlsh_topk(vectors, q, k=5, dim=8, bits=4).collect()
    # the query vector shares its own bucket, so it must come back first
    # (self inner product is the maximum for equal-norm integer grids here)
    assert rows and rows[0].vec_id == 5
    # single-probe candidates are a subset -> never more than k results
    assert len(rows) <= 5


def test_media_features_match_hashlib(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "x")], "doc_id long, text string")
    feats = {r.media_id: r for r in extract_media_features(media_from_text(df)).collect()}
    raw = b"hello world"
    assert feats[1].n_bytes == len(raw)
    assert feats[1].digest == hashlib.md5(raw).hexdigest()
    assert feats[1].header_hex == raw[:8].hex()
    assert feats[2].n_bytes == 1 and feats[2].header_hex == b"x".hex()


def test_media_codec_fallbacks(spark):
    df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    m = media_from_text(df)
    # neither media op stubs anymore: both fall back to vendored
    # pure-Python codecs (PNG / WAV); foreign-format content nulls its
    # row instead of raising — the per-row tolerance contract
    rows = decode_image(m).collect()
    assert len(rows) == 1 and rows[0].pixels is None
    arows = resample_audio(m).collect()
    assert len(arows) == 1 and arows[0].samples is None
    assert arows[0].rate == 16000


def test_sample_frames_metadata_arithmetic(spark):
    m = spark.createDataFrame(
        [(1, bytearray(b""), ("video", "mp4", None, None, 3500, None, 30)),
         (2, bytearray(b""), ("image", "png", 4, 4, None, None, None))],
        "media_id long, content binary, "
        "meta struct<media_type:string,format:string,width:int,height:int,"
        "duration_ms:int,sample_rate:int,fps:int>",
    )
    frames = sample_frames(m, every_ms=1000).collect()
    # video of 3500ms at 1 frame/s -> ts 0,1000,2000,3000; image -> none
    assert [(f.media_id, f.frame_ts_ms) for f in frames] == [(1, 0), (1, 1000), (1, 2000), (1, 3000)]


def test_bpe_token_stats(spark):
    df = spark.createDataFrame([(1, "ab12 cd, x9!")], "doc_id long, text string")
    r = with_bpe_token_stats(df).collect()[0]
    # pieces: ab | 12 | cd | , | x | 9 | !
    assert (r.n_pieces, r.n_alpha_pieces, r.n_num_pieces, r.n_punct_pieces) == (7, 3, 2, 2)


def test_asof_join_semantics(spark):
    from datetime import datetime

    from kubenetmon_spark.operators.asof import asof_join

    T = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "a", T("2024-01-01T10:00:00"), "L1"),
         (2, "a", T("2024-01-01T09:00:00"), "L2"),   # before any right row
         (3, "b", T("2024-01-01T12:00:00"), "L3"),   # equal-ts: inclusive
         (4, "c", T("2024-01-01T12:00:00"), "L4")],  # key with no right rows
        "event_id long, k string, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [("a", T("2024-01-01T09:30:00"), "R-a-0930"),
         ("a", T("2024-01-01T09:45:00"), "R-a-0945"),
         ("a", T("2024-01-01T11:00:00"), "R-a-1100"),  # after left 1
         ("b", T("2024-01-01T12:00:00"), "R-b-1200")],
        "k string, ts timestamp, rval string",
    )
    got = {r.event_id: r for r in asof_join(left, right, on=["k"], ts_col="ts").collect()}
    assert got[1].rval == "R-a-0945"  # latest at-or-before 10:00
    assert got[2].rval is None and got[2].asof_ts is None
    assert got[3].rval == "R-b-1200"  # equal timestamp matches (<=)
    assert got[4].rval is None
    assert got[1].lval == "L1"  # left payload preserved


def test_asof_join_duplicate_right_ts_deterministic(spark):
    # Regression: duplicate right rows at equal (key, ts) used to
    # resolve by partition/merge order; with an orderable payload the
    # MAX payload struct now wins deterministically.
    from kubenetmon_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "a", 100)], "event_id long, k string, ts long"
    )
    right_rows = [("a", 50, "v1"), ("a", 50, "v9"), ("a", 50, "v5")]
    for seed in range(3):
        right = spark.createDataFrame(
            right_rows[seed:] + right_rows[:seed], "k string, ts long, rval string"
        ).repartition(seed + 2)
        got = asof_join(left, right, on=["k"], ts_col="ts").collect()[0]
        assert got.rval == "v9"


def test_asof_join_column_collision_fails_loudly(spark):
    # Regression: a right payload column named like a left column used
    # to emit two same-named output columns (ambiguous downstream).
    import pytest

    from kubenetmon_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10, 1)], "k string, ts long, val long")
    right = spark.createDataFrame([("a", 5, 2)], "k string, ts long, val long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on=["k"], ts_col="ts")


def test_winnow_arrow_equals_sql(spark):
    df = spark.createDataFrame(
        [(1, "  the quick brown fox jumps over the lazy dog  "),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "tiny")],
        "doc_id long, text string",
    )
    cols = ["doc_id", "n_grams", "n_fp", "fp_digest"]
    a = sorted(map(tuple, with_winnow_fingerprint(df, method="arrow").select(cols).collect()))
    b = sorted(map(tuple, with_winnow_fingerprint(df, method="sql").select(cols).collect()))
    assert a == b


def test_winnow_fingerprint_properties(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),  # identical
         (3, "a completely different document body here"),
         (4, "short")],  # shorter than k=8
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_winnow_fingerprint(df, k=8, w=4).collect()}
    assert rows[1].fp_digest == rows[2].fp_digest
    assert rows[1].fp_digest != rows[3].fp_digest
    assert rows[4].n_grams == 0 and rows[4].n_fp == 0
    assert rows[1].n_grams == len("the quick brown fox jumps over the lazy dog") - 7


def test_ngram_repetition_arrow_equals_sql(spark):
    from kubenetmon_spark.operators.text import with_ngram_repetition

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),          # heavy trigram repetition
         (2, "all words here are unique"),
         (3, "a b"),                        # shorter than n
         (4, ""),
         (5, "  spaced   out   tokens  ")],
        "doc_id long, text string",
    )
    cols = ["doc_id", "n_ngrams", "n_distinct_ngrams", "dup_ngram_bp"]
    a = sorted(map(tuple, with_ngram_repetition(df, method="arrow").select(cols).collect()))
    b = sorted(map(tuple, with_ngram_repetition(df, method="sql").select(cols).collect()))
    assert a == b


def test_ngram_repetition_values(spark):
    from kubenetmon_spark.operators.text import with_ngram_repetition

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "one two three four"), (3, "x y")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_ngram_repetition(df, n=3).collect()}
    # 9 tokens -> 7 trigrams, only 3 distinct (abc, bca, cab)
    assert rows[1].n_ngrams == 7 and rows[1].n_distinct_ngrams == 3
    assert rows[1].dup_ngram_bp == (7 - 3) * 10000 // 7
    assert rows[2].n_ngrams == 2 and rows[2].dup_ngram_bp == 0
    assert rows[3].n_ngrams == 0 and rows[3].dup_ngram_bp == 0


class TestFakeDecode:
    def test_decode_fake_geometry_and_determinism(self, spark):
        from kubenetmon_spark.operators.media import decode_image, media_from_text

        docs = spark.createDataFrame(
            [(1, "hello world"), (2, "abc")], ["doc_id", "text"]
        )
        d1 = {
            r.media_id: bytes(r.pixels)
            for r in decode_image(
                media_from_text(docs), 4, 4, codec="fake"
            ).collect()
        }
        d2 = {
            r.media_id: bytes(r.pixels)
            for r in decode_image(
                media_from_text(docs), 4, 4, codec="fake"
            ).collect()
        }
        assert d1 == d2
        assert all(len(v) == 4 * 4 * 3 for v in d1.values())
        # nearest-neighbor reference for doc 2 ("abc")
        src = b"abc"
        exp = bytes(src[(k * len(src)) // 48] for k in range(48))
        assert d1[2] == exp

    def test_mean_channels_match_numpy(self, spark):
        import numpy as np

        from kubenetmon_spark.operators.media import (
            decode_image,
            mean_channel_features,
            media_from_text,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        )
        decoded = decode_image(media_from_text(docs), 8, 8, codec="fake")
        pix = bytes(decoded.collect()[0].pixels)
        a = np.frombuffer(pix, dtype=np.uint8).reshape(-1, 3)
        r = mean_channel_features(decoded).collect()[0]
        for i, col in enumerate(["mean_r_e2", "mean_g_e2", "mean_b_e2"]):
            assert r[col] == int(a[:, i].astype(int).sum()) * 100 // 64

    def test_auto_codec_decodes_real_png_and_nulls_foreign(self, spark):
        from kubenetmon_spark.functions.png import encode_png
        from kubenetmon_spark.operators.media import (
            decode_image,
            media_from_text,
        )

        import numpy as np

        img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        media = spark.createDataFrame(
            [(1, bytearray(encode_png(img))), (2, bytearray(b"not png"))],
            "media_id long, content binary",
        )
        rows = {
            r.media_id: r
            for r in decode_image(
                media, out_width=4, out_height=4, codec="auto"
            ).collect()
        }
        assert bytes(rows[1].pixels) == img.tobytes()
        assert rows[2].pixels is None


class TestPerceptualHash:
    def _media(self, spark, texts):
        from kubenetmon_spark.operators.media import media_from_text

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        return media_from_text(df, "doc_id", "text")

    def _ref_bands(self, text):
        cps = [ord(ch) for ch in text]
        n = len(cps)
        luma = [0] * 64
        for i, cp in enumerate(cps):
            luma[(i * 64) // n] += cp
        total = sum(luma)
        bits = [1 if 64 * v >= total else 0 for v in luma]
        return [
            sum(b << (15 - k) for k, b in enumerate(bits[j * 16 : (j + 1) * 16]))
            for j in range(4)
        ]

    def test_bands_match_python(self, spark):
        from kubenetmon_spark.operators.media import ahash_bands

        texts = ["the quick brown fox jumps over the lazy dog " * 3,
                 "lorem ipsum dolor sit amet consectetur adipiscing elit " * 2]
        rows = {r.media_id: r for r in ahash_bands(self._media(spark, texts)).collect()}
        for i, t in enumerate(texts):
            want = self._ref_bands(t)
            got = [rows[i][f"b{j}"] for j in range(4)]
            assert got == want, (i, got, want)

    def test_localized_edit_small_hamming(self, spark):
        from kubenetmon_spark.operators.media import perceptual_hash_pairs

        base = "abcdefgh" * 40  # 320 chars
        edited = base[:100] + "XYZW" + base[104:]  # same length, local change
        pairs = perceptual_hash_pairs(
            self._media(spark, [base, edited]), max_hamming=3
        ).collect()
        assert len(pairs) == 1
        assert pairs[0].id_1 == 0 and pairs[0].id_2 == 1
        assert pairs[0].hamming <= 3

    def test_recall_matches_brute_force(self, spark):
        import random as rnd

        from kubenetmon_spark.operators.media import perceptual_hash_pairs

        rng = rnd.Random(91)
        base = "".join(rng.choice("abcdefgh ") for _ in range(200))
        texts = [base]
        for _ in range(6):  # random local mutations of the base
            i = rng.randrange(0, 190)
            texts.append(base[:i] + rng.choice("xyz") + base[i + 1 :])
        texts += [
            "".join(rng.choice("mnopqrst ") for _ in range(200)) for _ in range(5)
        ]
        got = {
            (r.id_1, r.id_2): r.hamming
            for r in perceptual_hash_pairs(
                self._media(spark, texts), max_hamming=3
            ).collect()
        }
        bands = [self._ref_bands(t) for t in texts]

        def hamming(a, b):
            return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

        want = {
            (i, j): hamming(bands[i], bands[j])
            for i in range(len(texts))
            for j in range(i + 1, len(texts))
            if hamming(bands[i], bands[j]) <= 3
        }
        assert got == want  # banding recall is total for hamming <= 3

    def test_max_hamming_guard(self, spark):
        import pytest

        from kubenetmon_spark.operators.media import perceptual_hash_pairs

        with pytest.raises(ValueError):
            perceptual_hash_pairs(self._media(spark, ["x" * 80]), max_hamming=4)


class TestNgramDistance:
    """operators/text.py::ngram_distance_to_probe vs a pure-Python
    multiset reference (ClickHouse ngramDistance semantics, integer bp)."""

    @staticmethod
    def _ref_bp(s, probe, n=3):
        from collections import Counter

        a = Counter(s[i : i + n] for i in range(max(len(s) - n + 1, 0)))
        b = Counter(probe[i : i + n] for i in range(max(len(probe) - n + 1, 0)))
        sa, sb = sum(a.values()), sum(b.values())
        if sa + sb == 0:
            return 0
        common = sum(min(c, b[g]) for g, c in a.items())
        return ((sa + sb - 2 * common) * 10000) // (sa + sb)

    def test_matches_python_reference(self, spark):
        from kubenetmon_spark.operators.text import ngram_distance_to_probe

        probe = "abc abd"
        rows = [
            (0, "abc abd"),        # identical -> 0
            (1, "xyz qpr"),        # disjoint -> 10000
            (2, "abc"),            # subset
            (3, "abd abc"),        # same multiset, reordered grams differ
            (4, ""),               # shorter than n
            (5, "ab"),             # shorter than n
            (6, "abcabcabc abd"),  # repeated grams (multiset counts matter)
        ]
        df = spark.createDataFrame(rows, ["id", "s"])
        got = {
            r.id: r.ngram_dist_bp
            for r in ngram_distance_to_probe(df, "id", "s", probe).collect()
        }
        for i, s in rows:
            assert got[i] == self._ref_bp(s, probe), (i, s, got[i])
        assert got[0] == 0
        assert got[1] == 10000

    def test_null_text_counts_zero_common_grams(self, spark):
        # ADVICE r07: regexp_count(NULL) is NULL and least() skips
        # nulls, so without the coalesce a NULL doc counted as FULL
        # gram overlap on the fast path (distance -10000, search
        # "full containment" 10000). Both paths must agree: NULL text
        # = zero common grams (distance 10000, search 0), exactly what
        # the explode path computes.
        from kubenetmon_spark.operators.text import (
            ngram_distance_to_probe,
            ngram_search_to_probe,
        )

        df = spark.createDataFrame(
            [(0, None), (1, "abc abd"), (2, "")], "id int, s string"
        )
        got_d = {
            r.id: r.ngram_dist_bp
            for r in ngram_distance_to_probe(df, "id", "s", "abc abd").collect()
        }
        got_s = {
            r.id: r.ngram_search_bp
            for r in ngram_search_to_probe(df, "id", "s", "abc abd").collect()
        }
        assert got_d[0] == 10000  # NULL: disjoint, not identical
        assert got_s[0] == 0  # NULL: no containment
        assert got_d[1] == 0 and got_s[1] == 10000

    def test_long_probe_fallback_path_matches_reference(self, spark):
        # r7: probes with <= 64 distinct grams run the zero-shuffle
        # regexp_count fast path; longer probes keep the explode+join
        # path. Both must match the Python reference — including a
        # regex-special-character probe on the fast path and a probe
        # with self-overlapping repeated grams.
        from kubenetmon_spark.operators.text import ngram_distance_to_probe

        long_probe = "".join(
            f"{chr(97 + i % 26)}{chr(97 + (i * 11) % 26)}{i % 10}"
            for i in range(40)
        )
        n_distinct = len(
            {long_probe[i : i + 3] for i in range(len(long_probe) - 2)}
        )
        assert n_distinct > 64  # genuinely exercises the fallback path
        special_probe = "a.b(c)d*e+a.b"
        overlap_probe = "aaaa bbbb"
        rows = [
            (0, long_probe),
            (1, long_probe[10:50] + " tail"),
            (2, "a.b(c)d"),
            (3, "aaaaaa xbbbb"),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, ["id", "s"])
        from collections import Counter

        from kubenetmon_spark.operators.text import ngram_search_to_probe

        def ref_search_bp(s, probe, n=3):
            a = Counter(s[i : i + n] for i in range(max(len(s) - n + 1, 0)))
            b = Counter(
                probe[i : i + n] for i in range(max(len(probe) - n + 1, 0))
            )
            sb = sum(b.values())
            if sb == 0:
                return 0
            common = sum(min(a[g], c) for g, c in b.items())
            return (common * 10000) // sb

        for probe in (long_probe, special_probe, overlap_probe):
            got = {
                r.id: r.ngram_dist_bp
                for r in ngram_distance_to_probe(
                    df, "id", "s", probe
                ).collect()
            }
            got_s = {
                r.id: r.ngram_search_bp
                for r in ngram_search_to_probe(df, "id", "s", probe).collect()
            }
            for i, s in rows:
                assert got[i] == self._ref_bp(s, probe), (probe[:12], i, s)
                assert got_s[i] == ref_search_bp(s, probe), (probe[:12], i, s)


class TestKnnJoin:
    def _mk(self, spark, n=60, dim=8, seed=7):
        import random

        rng = random.Random(seed)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        return spark.createDataFrame(rows, schema), rows

    @staticmethod
    def _scaled(vec):
        import math

        return [math.floor(float(np32(x)) * 1_000_000) for x in vec]

    def test_full_probe_equals_brute_force(self, spark):
        """With n_probe == n_centroids every list is scanned, so the
        result must equal exact brute-force top-k."""
        from kubenetmon_spark.operators.similarity import knn_join

        df, rows = self._mk(spark)
        queries = df.filter("vec_id % 11 = 0").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = knn_join(
            df, queries, k=3, n_centroids=4, n_probe=4
        ).collect()
        scaled = {i: self._scaled(v) for i, v in rows}

        def dot(a, b):
            return sum(x * y for x, y in zip(a, b))

        for qid in [r.query_id for r in queries.collect()]:
            want = sorted(
                (
                    (-dot(scaled[qid], scaled[i]), i)
                    for i in scaled
                    if i != qid
                ),
            )[:3]
            got_q = sorted(
                (r.rank, r.nbr_id, r.score)
                for r in got
                if r.query_id == qid
            )
            assert [g[1] for g in got_q] == [w[1] for w in want], qid
            assert [g[2] for g in got_q] == [-w[0] for w in want], qid

    def test_probe_subset_is_subset_of_lists(self, spark):
        from kubenetmon_spark.operators.similarity import knn_join

        df, _ = self._mk(spark)
        queries = df.filter("vec_id % 7 = 0").selectExpr(
            "vec_id as query_id", "embedding"
        )
        got = knn_join(df, queries, k=5, n_centroids=8, n_probe=2)
        per_q = (
            got.groupBy("query_id")
            .count()
            .collect()
        )
        assert all(r["count"] <= 5 for r in per_q)
        assert got.filter("query_id = nbr_id").count() == 0


def np32(x):
    """round-trip a python float through float32 (what the DataFrame
    schema stores) so the reference scales the same value Spark sees."""
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


class TestAsofTolerance:
    def test_stale_matches_dropped(self, spark):
        from datetime import datetime, timedelta

        from kubenetmon_spark.operators.asof import asof_join

        t = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)  # noqa: E731
        left = spark.createDataFrame(
            [("k", t(10), "L1"), ("k", t(100), "L2"), ("k", t(5), "L0")],
            ["k", "ts", "lbl"],
        )
        right = spark.createDataFrame(
            [("k", t(8), 80), ("k", t(9), 90)], ["k", "ts", "quote"]
        )
        # no tolerance: L2 still matches the (stale) t=9 quote
        loose = {
            r.lbl: r.quote
            for r in asof_join(left, right, ["k"]).collect()
        }
        assert loose == {"L0": None, "L1": 90, "L2": 90}
        # 30s tolerance: the 91-second-old match for L2 is discarded
        tight = {
            r.lbl: (r.quote, r.asof_ts)
            for r in asof_join(
                left, right, ["k"], tolerance_seconds=30
            ).collect()
        }
        assert tight["L1"][0] == 90
        assert tight["L2"] == (None, None)
        assert tight["L0"] == (None, None)

    def test_numeric_ts_units(self, spark):
        from kubenetmon_spark.operators.asof import asof_join

        left = spark.createDataFrame([("k", 100, "L")], ["k", "ts", "lbl"])
        right = spark.createDataFrame([("k", 60, 1)], ["k", "ts", "v"])
        hit = asof_join(left, right, ["k"], tolerance_seconds=40).collect()[0]
        assert hit.v == 1
        miss = asof_join(left, right, ["k"], tolerance_seconds=39).collect()[0]
        assert miss.v is None


class TestNgramSearch:
    def test_asymmetric_containment(self, spark):
        from collections import Counter

        from kubenetmon_spark.operators.text import ngram_search_to_probe

        probe = "abcde"  # grams: abc bcd cde (3 grams)
        rows = [(0, "xx abcde yy"),  # full containment -> 10000
                (1, "abc"),          # 1 of 3
                (2, "zzz"),          # none
                (3, "cdebcdabc")]    # all three present scattered
        df = spark.createDataFrame(rows, ["id", "s"])
        got = {
            r.id: r.ngram_search_bp
            for r in ngram_search_to_probe(df, "id", "s", probe).collect()
        }

        def ref(s):
            a = Counter(s[i:i + 3] for i in range(max(len(s) - 2, 0)))
            b = Counter(probe[i:i + 3] for i in range(len(probe) - 2))
            common = sum(min(c, b[g]) for g, c in a.items() if g in b)
            return common * 10000 // sum(b.values())

        for i, s in rows:
            assert got[i] == ref(s), (i, s)
        assert got[0] == 10000 and got[2] == 0


class TestCovariancePca:
    def test_cov_matches_numpy(self, spark):
        import numpy as np

        from kubenetmon_spark.operators.similarity import (
            covariance_matrix_exact,
        )

        rng = np.random.RandomState(7)
        X = rng.randn(50, 4).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(X)],
            "vec_id long, embedding array<float>",
        )
        rows = covariance_matrix_exact(
            df, "embedding", dims=4, scale=1000
        ).collect()
        n = 50
        Q = np.floor(X.astype("float64") * 1000)
        for r in rows:
            expect = n * np.dot(Q[:, r.i], Q[:, r.j]) - Q[:, r.i].sum() * Q[:, r.j].sum()
            assert r.cov_num == int(expect), (r.i, r.j)
        assert len(rows) == 10  # upper triangle of 4x4


class TestRemoveDuplicateSpans:
    def test_second_occurrence_removed_first_kept(self, spark):
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        span = "one two three four"
        docs = [
            (1, f"intro words here {span} tail a"),
            (2, f"other prefix {span} closing words"),
            (3, "completely unrelated text with no duplicates at all"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, "doc_id", k=4).collect()
        }
        # doc 1 (first occurrence by (doc, pos)) keeps the span
        assert span in got[1].dedup_text
        assert got[1].n_removed == 0
        # doc 2 loses exactly the span tokens
        assert span not in got[2].dedup_text
        assert got[2].dedup_text == "other prefix closing words"
        assert got[2].n_removed == 4
        # untouched doc intact
        assert got[3].n_removed == 0 and got[3].dedup_text == docs[2][1]

    def test_span_fraction_arrow_path_ascii_ws_only(self, spark):
        # ADVICE r07: the Arrow span fast path must tokenize with
        # ASCII \s+ exactly like Java's \s (the expression path and
        # remove_duplicate_spans). U+00A0 / U+2028 / U+1680 are NOT
        # Java whitespace, so "a b" is ONE token; Python's
        # Unicode \s+ would have split it into two and produced
        # different spans. Pin the int-id (Arrow) path equal to the
        # string-id (expression) path on exactly such texts.
        from kubenetmon_spark.operators.dedup import duplicate_span_fraction

        texts = [
            "a b c d e a b c d e",  # NBSP inside a token
            "p q r s p q r s",  # line sep inside a token
            "w x y z w x y z",  # ogham space mark
            "n o r m a l n o r m a l",
        ]
        int_df = spark.createDataFrame(
            list(enumerate(texts)), "id long, text string"
        )
        str_df = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)],
            "id string, text string",
        )
        got_int = {
            r.id: (r.n_spans, r.n_dup_spans)
            for r in duplicate_span_fraction(
                int_df, "id", "text", n=3, min_count=2
            ).collect()
        }
        got_str = {
            int(r.id[1:]): (r.n_spans, r.n_dup_spans)
            for r in duplicate_span_fraction(
                str_df, "id", "text", n=3, min_count=2
            ).collect()
        }
        assert got_int == got_str

    def test_overlapping_duplicate_spans_merge(self, spark):
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        # 5-token duplicate with k=4 -> two overlapping 4-gram hits in
        # the copy; covered positions union to the whole 5-token run
        run = "a b c d e"
        df = spark.createDataFrame(
            [(1, f"{run} x"), (2, f"y {run} z")],
            ["doc_id", "text"],
        )
        got = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, "doc_id", k=4).collect()
        }
        assert got[1].n_removed == 0
        assert got[2].dedup_text == "y z" and got[2].n_removed == 5

    def test_short_docs_pass_through(self, spark):
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc")], ["doc_id", "text"]
        )
        got = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, "doc_id", k=8).collect()
        }
        # below k tokens: no grams, nothing removed (even exact copies)
        assert got[1].n_removed == 0 and got[2].n_removed == 0

    def test_null_id_doc_keeps_computed_output(self, spark):
        # Regression: the zero-token survival join-back used null-unsafe
        # equality on id_col, so a NULL-id document's computed dedup was
        # silently swapped for ("", 0, 0) and duplicated. Null-safe
        # anti-join keeps one row with the real rebuilt text.
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(None, "a b c d e f"), (2, "")],
            "doc_id int, text string",
        )
        rows = remove_duplicate_spans(df, "doc_id", k=4).collect()
        assert len(rows) == 2
        got = {r.doc_id: r for r in rows}
        assert got[None].dedup_text == "a b c d e f"
        assert (got[None].n_tokens, got[None].n_removed) == (6, 0)
        assert got[2].dedup_text == "" and got[2].n_tokens == 0

    def test_duplicate_ids_conflate_to_one_row(self, spark):
        # one row per DISTINCT id on both the content and survival paths
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (1, "g h i j k l"), (2, ""), (2, "")],
            "doc_id int, text string",
        )
        rows = remove_duplicate_spans(df, "doc_id", k=4).collect()
        assert sorted(r.doc_id for r in rows) == [1, 2]


class TestHardNegativeMining:
    def test_excludes_same_label_and_ranks_by_cosine(self, spark):
        from kubenetmon_spark.operators.similarity import (
            hard_negative_mining,
        )

        vecs = spark.createDataFrame(
            [
                (0, [1.0, 0.0], 0),    # the query
                (1, [1.0, 0.0], 0),    # same label: excluded even at cos 1
                (2, [2.0, 0.0], 1),    # diff label, cos 10000 -> rk 1
                (3, [1.0, 1.0], 1),    # cos 7071 -> rk 2
                (4, [0.0, 1.0], 1),    # cos 0 -> rk 3
                (5, [-1.0, 0.0], 1),   # cos -10000 -> rk 4
            ],
            "vec_id long, embedding array<float>, label int",
        )
        q = vecs.filter(F.col("vec_id") == 0)
        got = hard_negative_mining(vecs, q, k=3).orderBy("rk").collect()
        assert [(r.vec_id, r.cosine_bp, r.rk) for r in got] == [
            (2, 10000, 1),
            (3, 7071, 2),
            (4, 0, 3),
        ]

    def test_plan_uses_window_group_limit_and_broadcast(self, spark):
        from kubenetmon_spark.operators.similarity import (
            hard_negative_mining,
        )

        vecs = spark.createDataFrame(
            [(i, [float(i), 1.0], i % 3) for i in range(50)],
            "vec_id long, embedding array<float>, label int",
        )
        q = vecs.filter(F.col("vec_id") < 3)
        plan = (
            hard_negative_mining(vecs, q, k=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "WindowGroupLimit" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestReviewPassRegressions:
    """Round-4 second review pass: each case reproduces a fixed bug."""

    def test_remove_duplicate_spans_leading_whitespace(self, spark):
        # positions must index the FILTERED token array: leading/double
        # whitespace used to shift the removal window onto WRONG tokens
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans

        span = "x1 x2 x3 x4 x5 x6 x7 x8"
        rows = [
            (1, f"  {span} y {span}"),     # leading spaces + dup span
            (2, f"{span} z"),              # makes the span corpus-global
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, "doc_id", k=8).collect()
        }
        # doc 1: the SECOND occurrence's 8 tokens are removed; 'y' stays
        assert out[1].dedup_text == f"{span} y"
        assert out[1].n_removed == 8
        # doc 2 keeps the first-by-(doc,pos) occurrence? ordering is
        # (doc_id, pos): doc 1 pos 0 is first, so doc 2's copy removes
        assert out[2].dedup_text == "z"
        assert out[2].n_removed == 8

    def test_null_embedding_survives_banding(self, spark):
        # a NULL embedding must not kill the banding stage (and thus
        # the continuous dedup stream) — it simply never collides
        from kubenetmon_spark.operators.similarity import (
            cosine_dedup_incremental,
        )

        rows = [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, None),
            (3, [2.0, 4.0, 6.0, 8.0]),  # dup of 1
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        surv, b, v = cosine_dedup_incremental(
            df, None, None, threshold_bp=10000
        )
        ids = sorted(r.vec_id for r in surv.collect())
        # 3 deduped against 1; NULL row 2 survives (no direction)
        assert ids == [1, 2]

    def test_char_ngram_counts_short_docs_yield_no_rows(self, spark):
        # sequence(1, 0) DESCENDS in Spark: short/empty/null docs used
        # to emit two phantom truncated grams
        from kubenetmon_spark.operators.text import char_ngram_counts

        df = spark.createDataFrame(
            [(1, "ab"), (2, ""), (3, None), (4, "abcd")],
            "doc_id long, text string",
        )
        got = char_ngram_counts(df, "doc_id", "text", n=3).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, []).append((r.gram, r.cnt))
        assert 1 not in by_doc and 2 not in by_doc and 3 not in by_doc
        assert sorted(by_doc[4]) == [("abc", 1), ("bcd", 1)]

    def test_probe_shorter_than_n_supported(self, spark):
        # empty-probe branches used to be dead code (createDataFrame
        # cannot infer a schema from an empty list)
        from kubenetmon_spark.operators.text import ngram_distance_to_probe

        df = spark.createDataFrame(
            [(1, "hello world")], "doc_id long, text string"
        )
        row = ngram_distance_to_probe(df, "doc_id", "text", "ab", n=3).collect()[0]
        # probe has no grams: distance = full symmetric difference
        assert row.ngram_dist_bp == 10000

    def test_winnow_arrow_large_k_matches_sql(self, spark):
        # 31^(k-1) overflows int64 at k>=14; the modular power table
        # must keep arrow == sql for any k
        from kubenetmon_spark.operators.text import with_winnow_fingerprint

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog repeatedly"),
             (2, None)],
            "doc_id long, text string",
        )
        a = {
            r.doc_id: (r.n_grams, r.n_fp, r.fp_digest)
            for r in with_winnow_fingerprint(
                df, k=16, w=4, method="arrow"
            ).collect()
        }
        s = {
            r.doc_id: (r.n_grams, r.n_fp, r.fp_digest)
            for r in with_winnow_fingerprint(
                df, k=16, w=4, method="sql"
            ).collect()
        }
        assert a == s  # incl. the NULL-text row (parity fix)

    def test_gopher_custom_stopwords_regex_escaped(self, spark):
        from kubenetmon_spark.operators.text import with_gopher_rules

        # 'u.s.' must match literally — the unescaped '.' used to match
        # 'used' etc., silently flipping g_stopword_ok
        df = spark.createDataFrame(
            [(1, "we used many tools and saw results here today"),
             (2, "the u.s. economy and e.g. trade links grew today")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.g_stopword_ok
            for r in with_gopher_rules(
                df, stopwords=["u.s.", "e.g."], min_stopwords=2
            ).collect()
        }
        assert got == {1: False, 2: True}
