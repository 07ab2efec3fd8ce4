"""Schema evolution (evolve.py): metadata-only ALTERs, lazy reads,
materialization — the ClickHouse ADD/DROP/RENAME/MODIFY COLUMN
contract on parquet tables.

Contract under test: DDL touches only the sidecar; read_evolved over
mixed-generation files equals the schema a from-scratch table would
have; materialize_schema folds the log so plain reads agree; the whole
pipeline is deterministic and shuffle-free.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.evolve import (
    add_column,
    drop_column,
    materialize_schema,
    modify_column,
    read_evolved,
    rename_column,
    schema_log,
)


def _v1(spark, tbl):
    spark.range(0, 100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "id * 10 AS amount"
    ).write.parquet(tbl)


def test_ddl_is_metadata_only(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    import os

    files_before = {
        f: os.path.getmtime(os.path.join(tbl, f))
        for f in os.listdir(tbl)
        if f.endswith(".parquet")
    }
    add_column(tbl, "region", "string", default="'unassigned'")
    rename_column(tbl, "grp", "cohort")
    files_after = {
        f: os.path.getmtime(os.path.join(tbl, f))
        for f in os.listdir(tbl)
        if f.endswith(".parquet")
    }
    assert files_before == files_after  # no data file touched
    assert [o["op"] for o in schema_log(tbl)] == ["add", "rename"]


def test_add_default_backfills_old_files_only(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    add_column(tbl, "region", "string", default="'unassigned'")
    # second generation carries real values
    spark.range(100, 120).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "id * 10 AS amount",
        "'eu' AS region",
    ).write.mode("append").parquet(tbl)
    got = read_evolved(spark, tbl)
    assert got.filter((F.col("id") < 100) & (F.col("region") == "unassigned")).count() == 100
    assert got.filter((F.col("id") >= 100) & (F.col("region") == "eu")).count() == 20


def test_add_default_expression_over_other_columns(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    add_column(tbl, "amount_e2", "bigint", default="amount * 100")
    got = read_evolved(spark, tbl).filter(F.col("id") == 3).first()
    assert got["amount_e2"] == 3000


def test_add_without_default_is_nullable(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    add_column(tbl, "note", "string")
    got = read_evolved(spark, tbl)
    assert got.filter(F.col("note").isNull()).count() == 100


def test_rename_unifies_generations(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    rename_column(tbl, "grp", "cohort")
    spark.range(100, 110).selectExpr(
        "id", "CAST(id % 7 AS INT) AS cohort", "id * 10 AS amount"
    ).write.mode("append").parquet(tbl)
    got = read_evolved(spark, tbl)
    assert "grp" not in got.columns and "cohort" in got.columns
    assert got.filter(F.col("cohort").isNull()).count() == 0
    assert got.count() == 110


def test_drop_hides_column_bytes_still_on_disk(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    drop_column(tbl, "amount")
    got = read_evolved(spark, tbl)
    assert "amount" not in got.columns
    # bytes still physically present until materialization
    assert "amount" in spark.read.parquet(tbl).columns


def test_modify_casts_on_read(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    modify_column(tbl, "amount", "decimal(12,2)")
    got = read_evolved(spark, tbl)
    assert dict(got.dtypes)["amount"] == "decimal(12,2)"
    assert got.agg(F.sum("amount")).first()[0] == sum(i * 10 for i in range(100))


def test_ops_compose_in_order(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    rename_column(tbl, "amount", "amt")
    modify_column(tbl, "amt", "double")  # must see the NEW name
    add_column(tbl, "flag", "int", default="CAST(amt > 500 AS INT)")
    got = read_evolved(spark, tbl)
    assert dict(got.dtypes)["amt"] == "double"
    assert got.filter(F.col("flag") == 1).count() == sum(
        1 for i in range(100) if i * 10 > 500
    )


def test_materialize_folds_log_and_plain_read_agrees(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    add_column(tbl, "region", "string", default="'unassigned'")
    rename_column(tbl, "grp", "cohort")
    drop_column(tbl, "amount")
    before = sorted(
        tuple(r) for r in read_evolved(spark, tbl).select("id", "cohort", "region").collect()
    )
    n_ops = materialize_schema(spark, tbl)
    assert n_ops == 3
    assert schema_log(tbl) == []
    plain = spark.read.parquet(tbl)
    assert sorted(plain.columns) == ["cohort", "id", "region"]
    assert "amount" not in plain.columns
    after = sorted(tuple(r) for r in plain.select("id", "cohort", "region").collect())
    assert before == after
    # idempotent: second materialization is a no-op
    assert materialize_schema(spark, tbl) == 0


def test_bad_ops_raise_at_alter(spark, tmp_path):
    # the ClickHouse contract: a bad ALTER fails at the statement, and
    # nothing lands in the log
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    with pytest.raises(ValueError, match="DROP COLUMN"):
        drop_column(tbl, "nope")
    with pytest.raises(ValueError, match="RENAME COLUMN"):
        rename_column(tbl, "missing", "x")
    with pytest.raises(ValueError, match="MODIFY COLUMN"):
        modify_column(tbl, "missing", "int")
    with pytest.raises(ValueError, match="already exists"):
        add_column(tbl, "amount", "bigint")
    assert schema_log(tbl) == []


def test_retired_name_reuse_refused_until_materialize(spark, tmp_path):
    # re-ADD after DROP (or RENAME onto a retired name) would resurrect
    # the stale bytes still sitting in old files — refused with a
    # materialize-first error; allowed again after materialization
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    drop_column(tbl, "amount")
    with pytest.raises(ValueError, match="materialize_schema first"):
        add_column(tbl, "amount", "bigint", default="0")
    rename_column(tbl, "grp", "cohort")
    with pytest.raises(ValueError, match="materialize_schema first"):
        rename_column(tbl, "cohort", "grp")
    materialize_schema(spark, tbl)
    add_column(tbl, "amount", "bigint", default="0")  # residue gone: OK
    got = read_evolved(spark, tbl)
    assert got.filter(F.col("amount") == 0).count() == 100


def test_rename_onto_live_column_refused(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    with pytest.raises(ValueError, match="target column exists"):
        rename_column(tbl, "grp", "amount")


def test_ddl_lock_serializes_and_cleans_up(spark, tmp_path):
    import os

    from kubenetmon_spark.evolve import _lock_path

    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    lock = _lock_path(tbl)
    # the lock is a SIBLING of the table root: materialize's overwrite
    # of the root cannot delete a held lock
    assert os.path.dirname(lock) == os.path.dirname(tbl)
    # a held lock makes a concurrent ALTER time out instead of losing it
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with pytest.raises(TimeoutError):
            from kubenetmon_spark.evolve import _ddl_lock

            with _ddl_lock(tbl, timeout_s=0.2):
                pass
    finally:
        os.close(fd)
        os.unlink(lock)
    add_column(tbl, "x", "int")  # lock released: DDL works and cleans up
    assert not os.path.exists(lock)


def test_materialize_holds_ddl_lock_for_full_duration(spark, tmp_path):
    # an ALTER committed between materialize's log read and its
    # truncating write would be silently erased; materialize therefore
    # runs under the DDL lock, so concurrent DDL times out loudly.
    import os

    from kubenetmon_spark.evolve import _lock_path

    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    add_column(tbl, "region", "string", default="'unassigned'")
    lock = _lock_path(tbl)
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with pytest.raises(TimeoutError):
            materialize_schema(spark, tbl, lock_timeout_s=0.2)
        # nothing was folded: the log is intact
        assert len(schema_log(tbl)) == 1
    finally:
        os.close(fd)
        os.unlink(lock)
    assert materialize_schema(spark, tbl) == 1
    assert schema_log(tbl) == []
    assert "region" in spark.read.parquet(tbl).columns


def test_evolve_on_hadoop_uri_root(spark, tmp_path):
    # the whole DDL+read+materialize lifecycle against a URI-form root
    # (file:/ through the real Hadoop FileSystem — the same code path
    # an hdfs:// or s3a:// table root takes)
    tbl = "file:" + str(tmp_path / "uri_tbl")
    spark.range(50).selectExpr(
        "id", "CAST(id % 3 AS INT) AS grp", "id * 2 AS amount"
    ).write.parquet(tbl)
    add_column(tbl, "region", "string", default="'unknown'")
    rename_column(tbl, "grp", "cohort")
    got = read_evolved(spark, tbl)
    assert set(got.columns) == {"id", "cohort", "amount", "region"}
    assert got.filter(F.col("region") == "unknown").count() == 50
    # append a post-ALTER generation, then materialize through the URI
    spark.range(50, 60).selectExpr(
        "id", "CAST(id % 3 AS INT) AS cohort", "id * 2 AS amount",
        "'eu' AS region",
    ).write.mode("append").parquet(tbl)
    assert materialize_schema(spark, tbl) == 2
    plain = spark.read.parquet(tbl)
    assert set(plain.columns) == {"id", "cohort", "amount", "region"}
    assert plain.count() == 60
    assert plain.filter(F.col("region") == "eu").count() == 10
    assert schema_log(tbl) == []


def test_empty_log_is_plain_read(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _v1(spark, tbl)
    assert schema_log(tbl) == []
    assert read_evolved(spark, tbl).count() == 100
