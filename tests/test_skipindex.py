"""Data-skipping indexes: no false negatives, real pruning, fail-open.

The contract under test (operators/skipindex.py): a skip index may only
PROVE absence — every row the plain scan returns, the indexed scan must
also return, for every index kind and operator; pruning is an I/O
optimization observable via ``inputFiles()``, never via results.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.skipindex import (
    IndexSpec,
    build_skip_index,
    candidate_files,
    list_indexes,
    read_indexed,
)


@pytest.fixture(scope="module")
def indexed_table(spark):
    tmp = tempfile.mkdtemp(prefix="skipidx_")
    tbl, idx = tmp + "/tbl", tmp + "/idx"
    # 12 range files → tight uid ranges per file; words cluster by range
    # too (wordN appears in few files), so every index kind can prune.
    df = spark.range(0, 6000).selectExpr(
        "id",
        "CAST(id DIV 500 AS INT) AS uid",  # 12 distinct, range-clustered
        "id % 37 AS val",
        "concat('alpha word', CAST(id DIV 500 AS STRING), ' beta') AS text",
    )
    df.repartitionByRange(12, "id").write.parquet(tbl)
    build_skip_index(
        spark,
        tbl,
        [
            IndexSpec("uid", "minmax"),
            IndexSpec("uid", "bloom", bits=1024, hashes=4),
            IndexSpec("uid", "set", max_values=8),
            IndexSpec("val", "set", max_values=8),  # 37 distincts → overflow
            IndexSpec("text", "tokenbf", bits=2048),
            IndexSpec("text", "ngrambf", bits=4096, ngram=3),
        ],
        idx,
    )
    yield spark, tbl, idx
    shutil.rmtree(tmp, ignore_errors=True)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_spec_validation():
    with pytest.raises(ValueError):
        IndexSpec("c", "nope")
    with pytest.raises(ValueError):
        IndexSpec("c", "bloom", bits=100)  # not a multiple of 64
    with pytest.raises(ValueError):
        IndexSpec("c", "ngrambf", ngram=1)


def test_list_indexes(indexed_table):
    spark, tbl, idx = indexed_table
    specs = list_indexes(idx)
    assert set(specs) == {
        "uid__minmax", "uid__bloom", "uid__set",
        "val__set", "text__tokenbf", "text__ngrambf",
    }
    assert specs["uid__bloom"]["dtype"] == "int"
    assert specs["text__ngrambf"]["ngram"] == 3


@pytest.mark.parametrize(
    "conds",
    [
        [("uid", "eq", 3)],
        [("uid", "in", [1, 7, 11])],
        [("uid", "between", (2, 4))],
        [("text", "has_token", "word5")],
        [("text", "like_substr", "word11 bet")],
        [("uid", "eq", 6), ("text", "has_token", "word6")],
    ],
)
def test_indexed_equals_plain(indexed_table, conds):
    spark, tbl, idx = indexed_table
    plain = spark.read.parquet(tbl)
    pred = None
    for c in conds:
        from kubenetmon_spark.operators.skipindex import _spark_predicate

        p = _spark_predicate(*c)
        pred = p if pred is None else pred & p
    expect = _ids(plain.where(pred))
    got = _ids(read_indexed(spark, tbl, idx, conds))
    assert got == expect and len(expect) > 0


def test_pruning_happens(indexed_table):
    spark, tbl, idx = indexed_table
    total = len(spark.read.parquet(tbl).inputFiles())
    assert total == 12
    pruned = read_indexed(spark, tbl, idx, [("uid", "eq", 3)])
    assert 0 < len(pruned.inputFiles()) < total
    # token search: word3 lives only in uid-3 rows → few files
    tok = read_indexed(spark, tbl, idx, [("text", "has_token", "word3")])
    assert 0 < len(tok.inputFiles()) < total
    sub = read_indexed(spark, tbl, idx, [("text", "like_substr", "word10 ")])
    assert 0 < len(sub.inputFiles()) < total


def test_absent_needle_zero_rows(indexed_table):
    spark, tbl, idx = indexed_table
    df = read_indexed(spark, tbl, idx, [("uid", "eq", 999)])
    assert df.count() == 0
    assert (
        read_indexed(spark, tbl, idx, [("text", "has_token", "zzzmissing")]).count()
        == 0
    )


def test_set_overflow_cannot_prune_but_correct(indexed_table):
    spark, tbl, idx = indexed_table
    # val has 37 distincts everywhere vs max_values=8 → every file NULL
    cand = candidate_files(spark, idx, "val__set", "eq", 5)
    assert cand is not None and len(cand) == 12  # overflow rows all kept
    got = _ids(read_indexed(spark, tbl, idx, [("val", "eq", 5)]))
    expect = _ids(spark.read.parquet(tbl).where(F.col("val") == 5))
    assert got == expect


def test_unsupported_op_falls_back(indexed_table):
    spark, tbl, idx = indexed_table
    assert candidate_files(spark, idx, "uid__bloom", "between", (1, 2)) is None
    got = _ids(read_indexed(spark, tbl, idx, [("val", "between", (3, 5))]))
    expect = _ids(
        spark.read.parquet(tbl).where(F.col("val").between(3, 5))
    )
    assert got == expect


def test_fail_open_for_files_appended_after_build(indexed_table):
    spark, tbl, idx = indexed_table
    # uid=99 exists ONLY in a file written after the index build: the
    # indexed read must still see it (absence from the index != absence).
    spark.range(1).selectExpr(
        "id + 1000000 AS id", "CAST(99 AS INT) AS uid", "0L AS val",
        "'late alpha word99 beta' AS text",
    ).write.mode("append").parquet(tbl)
    try:
        df = read_indexed(spark, tbl, idx, [("uid", "eq", 99)])
        assert df.count() == 1
        tok = read_indexed(spark, tbl, idx, [("text", "has_token", "word99")])
        assert tok.count() == 1
    finally:
        # remove the appended file so other tests see the original table
        import pathlib

        for f in pathlib.Path(tbl).glob("*.parquet"):
            probe = spark.read.parquet(str(f))
            if probe.where("uid = 99").count():
                f.unlink()
        # the unlink is out-of-band: drop the cached file listing or
        # every later read of tbl still sees (and ignores) the dead file
        spark.catalog.refreshByPath(tbl)


def test_min_prune_ratio_skips_file_list(indexed_table):
    spark, tbl, idx = indexed_table
    total = len(spark.read.parquet(tbl).inputFiles())
    # demanding >95% pruning for a predicate that keeps ~1/4 of files →
    # falls back to the plain directory scan (all files listed)
    df = read_indexed(
        spark, tbl, idx, [("uid", "between", (2, 4))], min_prune_ratio=0.95
    )
    assert len(df.inputFiles()) == total
    expect = _ids(spark.read.parquet(tbl).where(F.col("uid").between(2, 4)))
    assert _ids(df) == expect


def test_short_needle_ngram_no_prune(indexed_table):
    spark, tbl, idx = indexed_table
    # 2-char needle < ngram=3 → index abstains; result still exact
    assert candidate_files(spark, idx, "text__ngrambf", "like_substr", "al") is None
    got = read_indexed(spark, tbl, idx, [("text", "like_substr", "al")])
    assert got.count() == spark.read.parquet(tbl).count()


def test_randomized_no_false_negatives(indexed_table):
    """Randomized differential: for random needles (present and absent),
    indexed scan ≡ plain scan across all kinds."""
    import random

    spark, tbl, idx = indexed_table
    rng = random.Random(7)
    plain = spark.read.parquet(tbl)
    for _ in range(12):
        uid = rng.randrange(-2, 16)
        expect = _ids(plain.where(F.col("uid") == uid))
        assert _ids(read_indexed(spark, tbl, idx, [("uid", "eq", uid)])) == expect
        tok = f"word{rng.randrange(0, 16)}"
        expect = _ids(
            plain.where(
                F.array_contains(
                    F.split(F.lower("text"), "[^a-z0-9]+"), tok
                )
            )
        )
        assert (
            _ids(read_indexed(spark, tbl, idx, [("text", "has_token", tok)]))
            == expect
        )


class TestUpdateSkipIndex:
    def test_incremental_append_then_converge(self, spark, tmp_path):
        from kubenetmon_spark.operators.skipindex import (
            build_skip_index,
            update_skip_index,
        )

        tbl, idx = str(tmp_path / "tbl"), str(tmp_path / "idx")
        spark.range(0, 2000).selectExpr(
            "id", "CAST(id DIV 500 AS INT) AS uid"
        ).repartitionByRange(4, "id").write.parquet(tbl)
        build_skip_index(
            spark, tbl,
            [IndexSpec("uid", "minmax"), IndexSpec("uid", "bloom", bits=1024)],
            idx,
        )
        # nothing new yet -> all-zero update
        assert set(update_skip_index(spark, tbl, idx).values()) == {0}

        spark.range(1).selectExpr(
            "id + 99999 AS id", "CAST(42 AS INT) AS uid"
        ).write.mode("append").parquet(tbl)
        first = update_skip_index(spark, tbl, idx)
        assert all(v >= 1 for v in first.values())
        # converges: second run indexes nothing (zero-row files included)
        assert set(update_skip_index(spark, tbl, idx).values()) == {0}

        # the new needle is now PRUNED to its file, not fail-open
        df = read_indexed(spark, tbl, idx, [("uid", "eq", 42)])
        total = len(spark.read.parquet(tbl).inputFiles())
        assert df.count() == 1 and len(df.inputFiles()) < total
        # old needles still exact
        assert read_indexed(spark, tbl, idx, [("uid", "eq", 1)]).count() == 500

    def test_update_without_indexes_noop(self, spark, tmp_path):
        from kubenetmon_spark.operators.skipindex import update_skip_index

        tbl = str(tmp_path / "t2")
        spark.range(10).write.parquet(tbl)
        assert update_skip_index(spark, tbl, str(tmp_path / "noidx")) == {}


def test_cand_known_one_pass_matches_candidate_files(indexed_table):
    """r7: minmax/set probes return (candidates, known) from ONE collect —
    the known set must be the index's complete file list and the
    candidate set identical to the public candidate_files answer,
    including the minmax IN path (one OR'd collect must equal the union
    of per-value point probes)."""
    from kubenetmon_spark.operators.skipindex import _cand_known

    spark, tbl, idx = indexed_table
    all_files = {
        r.file
        for r in spark.read.parquet(idx + "/uid__minmax").select("file").collect()
    }
    for name, op, value in [
        ("uid__minmax", "eq", 3),
        ("uid__minmax", "in", [1, 7]),
        ("uid__minmax", "between", (2, 4)),
        ("uid__set", "eq", 3),
        ("uid__set", "in", [1, 7]),
        ("val__set", "eq", 5),  # overflowed: every file survives
    ]:
        cand, known = _cand_known(spark, idx, name, op, value)
        assert known == all_files, (name, op)
        assert cand == candidate_files(spark, idx, name, op, value), (name, op)
    # minmax IN == union of point probes (the old recursive shape)
    union = candidate_files(spark, idx, "uid__minmax", "eq", 1) | candidate_files(
        spark, idx, "uid__minmax", "eq", 7
    )
    assert _cand_known(spark, idx, "uid__minmax", "in", [1, 7])[0] == union
    # bloom family: candidates distributed, known deferred to the caller
    cand, known = _cand_known(spark, idx, "uid__bloom", "eq", 3)
    assert known is None and cand is not None
    # unsupported op: no probe at all
    assert _cand_known(spark, idx, "uid__bloom", "between", (1, 2)) == (None, None)


def test_concurrent_build_identical_to_single_spec_builds(spark, tmp_path):
    """r7: build_skip_index submits multi-spec index writes concurrently;
    the stored index rows must be byte-identical to three single-spec
    (serial) builds over the same table."""
    tbl = str(tmp_path / "tbl")
    spark.range(0, 2000).selectExpr(
        "id", "CAST(id DIV 250 AS INT) AS uid"
    ).repartitionByRange(8, "id").write.parquet(tbl)
    specs = [
        IndexSpec("uid", "minmax"),
        IndexSpec("uid", "bloom", bits=512, hashes=3),
        IndexSpec("uid", "set", max_values=16),
    ]
    multi, single = str(tmp_path / "multi"), str(tmp_path / "single")
    build_skip_index(spark, tbl, specs, multi)
    for s in specs:
        build_skip_index(spark, tbl, [s], single)
    assert list_indexes(multi) == list_indexes(single)
    for s in specs:
        a = sorted(
            map(repr, spark.read.parquet(multi + "/" + s.name).collect())
        )
        b = sorted(
            map(repr, spark.read.parquet(single + "/" + s.name).collect())
        )
        assert a == b, s.name
