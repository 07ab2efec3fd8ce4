"""Tests for Z-order clustering (multi-dim data skipping) and the
dead-letter ingest readers."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kubenetmon_spark.operators.zorder import with_zorder_key, zorder_write
from kubenetmon_spark.sources.ingest import read_csv, read_jsonl


def _morton2(x: int, y: int, bits: int) -> int:
    out = 0
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


class TestZorderKey:
    def test_interleaving_matches_reference(self, spark):
        rows = [(x, y) for x in range(4) for y in range(4)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = {
            (r["x"], r["y"]): r["zkey"]
            for r in with_zorder_key(df, ["x", "y"], bits=2).collect()
        }
        # min-max scaling over 0..3 at 2 bits is the identity
        for (x, y), z in got.items():
            assert z == _morton2(x, y, 2)

    def test_constant_and_null_columns_safe(self, spark):
        df = spark.createDataFrame(
            [(1, None), (1, 5), (1, 9)], "x long, y long"
        )
        out = with_zorder_key(df, ["x", "y"], bits=4).collect()
        assert all(r["zkey"] is not None for r in out)

    def test_rejects_bad_arity(self, spark):
        df = spark.createDataFrame([(1,)], "x long")
        with pytest.raises(ValueError):
            with_zorder_key(df, ["x"])

    def test_two_dim_skipping_beats_single_sort(self, spark, tmp_path):
        import pyarrow.parquet as pq

        # 64x64 grid: both dims uniform; single-column sort leaves the
        # secondary dimension unclustered.
        rows = [(x, y) for x in range(64) for y in range(64)]
        df = spark.createDataFrame(rows, "x long, y long")
        n_files = 16

        single = str(tmp_path / "single")
        (
            df.repartitionByRange(n_files, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(single)
        )
        zpath = str(tmp_path / "zorder")
        zorder_write(df, zpath, ["x", "y"], n_files=n_files)

        def files_overlapping_y_box(path, lo, hi):
            import glob

            n_total, n_hit = 0, 0
            for f in glob.glob(f"{path}/*.parquet"):
                md = pq.read_metadata(f)
                ymin = min(
                    md.row_group(i).column(1).statistics.min
                    for i in range(md.num_row_groups)
                )
                ymax = max(
                    md.row_group(i).column(1).statistics.max
                    for i in range(md.num_row_groups)
                )
                n_total += 1
                if ymax >= lo and ymin <= hi:
                    n_hit += 1
            return n_hit, n_total

        s_hit, s_total = files_overlapping_y_box(single, 10, 15)
        z_hit, z_total = files_overlapping_y_box(zpath, 10, 15)
        assert s_total == z_total == n_files
        # x-sorted files all span the full y range -> nothing prunes
        assert s_hit == n_files
        # z-ordered files are curve segments -> most files prune away
        assert z_hit <= n_files // 2

    def test_roundtrip_preserves_rows(self, spark, tmp_path):
        rows = [(x, x * 7 % 50) for x in range(500)]
        df = spark.createDataFrame(rows, "x long, y long")
        p = str(tmp_path / "rt")
        zorder_write(df, p, ["x", "y"], n_files=4)
        back = spark.read.parquet(p)
        assert back.count() == 500
        assert set(back.columns) == {"x", "y"}
        assert back.agg(F.sum("x")).collect()[0][0] == sum(r[0] for r in rows)


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


class TestDeadLetterIngest:
    def test_jsonl_split(self, spark, tmp_path):
        p = tmp_path / "docs.jsonl"
        lines = [
            json.dumps({"doc_id": 1, "text": "hello"}),
            "{not valid json",
            json.dumps({"doc_id": "not-a-number", "text": "oops"}),
            json.dumps({"doc_id": 2, "text": "world"}),
        ]
        p.write_text("\n".join(lines) + "\n")
        good, bad = read_jsonl(spark, str(p), DOC_SCHEMA)
        assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
        bad_rows = [r["raw"] for r in bad.collect()]
        assert len(bad_rows) == 2
        assert any("not valid json" in r for r in bad_rows)

    def test_csv_split(self, spark, tmp_path):
        p = tmp_path / "docs.csv"
        p.write_text("doc_id,text\n1,hello\nnot-a-number,oops\n2,world\n")
        good, bad = read_csv(spark, str(p), DOC_SCHEMA)
        assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
        assert bad.count() == 1

    def test_schema_with_corrupt_col_rejected(self, spark, tmp_path):
        s = StructType([StructField("_corrupt_record", StringType())])
        with pytest.raises(ValueError):
            read_jsonl(spark, str(tmp_path), s)

    def test_all_good_yields_empty_dead_letter(self, spark, tmp_path):
        p = tmp_path / "ok.jsonl"
        p.write_text(json.dumps({"doc_id": 5, "text": "x"}) + "\n")
        good, bad = read_jsonl(spark, str(p), DOC_SCHEMA)
        assert good.count() == 1 and bad.count() == 0


class TestExportRoundTrip:
    SCHEMA = __import__("pyspark.sql.types", fromlist=["x"]).StructType([
        __import__("pyspark.sql.types", fromlist=["x"]).StructField("id", __import__("pyspark.sql.types", fromlist=["x"]).LongType()),
        __import__("pyspark.sql.types", fromlist=["x"]).StructField("name", __import__("pyspark.sql.types", fromlist=["x"]).StringType()),
        __import__("pyspark.sql.types", fromlist=["x"]).StructField("score", __import__("pyspark.sql.types", fromlist=["x"]).DoubleType()),
    ])

    def _df(self, spark):
        rows = [
            (1, "alpha", 1.5),
            (2, None, 2.25),          # null string
            (3, "with,comma", None),  # null double + quoting-needed value
            (4, "", 0.0),             # empty string stays empty, not null
        ]
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_jsonl_round_trip(self, spark, tmp_path):
        from kubenetmon_spark.sources.export import export_jsonl
        from kubenetmon_spark.sources.ingest import read_jsonl

        p = str(tmp_path / "out_jsonl")
        export_jsonl(self._df(spark), p)
        good, bad = read_jsonl(spark, p, self.SCHEMA)
        assert bad.count() == 0
        got = sorted(good.collect(), key=lambda r: r.id)
        want = sorted(self._df(spark).collect(), key=lambda r: r.id)
        # JSON drops null fields; empty string survives distinctly
        assert [(r.id, r.name, r.score) for r in got] == [
            (r.id, r.name, r.score) for r in want
        ]

    def test_csv_round_trip_with_null_marker(self, spark, tmp_path):
        from kubenetmon_spark.sources.export import CSV_NULL, export_csv
        from kubenetmon_spark.sources.ingest import read_csv

        p = str(tmp_path / "out_csv")
        export_csv(self._df(spark), p)
        good, bad = read_csv(spark, p, self.SCHEMA, null_value=CSV_NULL)
        assert bad.count() == 0
        got = sorted(good.collect(), key=lambda r: r.id)
        assert [(r.id, r.name, r.score) for r in got] == [
            (1, "alpha", 1.5),
            (2, None, 2.25),
            (3, "with,comma", None),
            (4, "", 0.0),
        ]

    def test_single_file_export(self, spark, tmp_path):
        import glob

        from kubenetmon_spark.sources.export import export_jsonl

        p = str(tmp_path / "single")
        export_jsonl(self._df(spark), p, single_file=True)
        parts = glob.glob(f"{p}/part-*")
        assert len(parts) == 1


class TestOrcRoundTrip:
    def test_lossless_including_nested_types(self, spark, tmp_path):
        from kubenetmon_spark.sources.export import export_orc, read_orc

        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "a", [1, 2], {"x": True}, None),
                (2, None, [], {}, 2.5),
                (3, "c\nnewline,comma", None, None, -0.0),
            ],
            "id bigint, s string, arr array<int>, m map<string,boolean>, d double",
        )
        p = str(tmp_path / "orc_out")
        export_orc(df, p)
        back = read_orc(spark, p)
        assert back.schema == df.schema
        key = lambda r: r[0]  # noqa: E731
        a = sorted(df.collect(), key=key)
        b = sorted(back.collect(), key=key)
        assert a == b


class TestGenerateTable:
    def test_deterministic_and_distributed(self, spark):
        from kubenetmon_spark.sources.generate import generate_table, numbers

        spec = {
            "v": ("int", 10, 99),
            "price": ("double2", 0.0, 50.0),
            "name": ("string", "user_", 7),
            "kind": ("choice", ["a", "b", "c"]),
            "ts": ("ts", "2024-01-01 00:00:00", 3),
        }
        a = generate_table(spark, spec, 500, seed="x", partitions=8)
        b = generate_table(spark, spec, 500, seed="x", partitions=2)
        # identical values regardless of partitioning
        ka = sorted(map(tuple, a.collect()))
        kb = sorted(map(tuple, b.collect()))
        assert ka == kb
        # a different seed is a different table
        c = generate_table(spark, spec, 500, seed="y")
        assert ka != sorted(map(tuple, c.collect()))
        # range respected, cents-exact doubles
        row = a.agg(
            F.min("v"), F.max("v"), F.min("price"), F.max("price"),
            F.count_distinct("kind"), F.min("ts"), F.max("ts"),
        ).collect()[0]
        assert 10 <= row[0] and row[1] <= 99
        assert 0.0 <= row[2] and row[3] <= 50.0
        assert row[4] == 3
        assert str(row[5]) >= "2024-01-01 00:00:00"
        assert str(row[6]) < "2024-01-04 00:00:00"
        # no shuffle: pure projection over range
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert numbers(spark, 5).count() == 5


class TestMortonRawCodec:
    def test_roundtrip_and_reference(self, spark):
        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.zorder import (
            morton_decode2,
            morton_encode2,
        )

        def ref(x, y, bits=16):
            z = 0
            for b in range(bits):
                z |= ((x >> b) & 1) << (2 * b)
                z |= ((y >> b) & 1) << (2 * b + 1)
            return z

        rows = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 1), (65535, 65535)]
        df = spark.createDataFrame(rows, "x bigint, y bigint")
        enc = df.withColumn(
            "z", morton_encode2(F.col("x"), F.col("y"))
        )
        dx, dy = morton_decode2(F.col("z"))
        out = enc.withColumn("rx", dx).withColumn("ry", dy).collect()
        for r in out:
            assert r.z == ref(r.x, r.y), (r.x, r.y)
            assert (r.rx, r.ry) == (r.x, r.y)
