"""FS adapter: both implementations must expose identical semantics.

HadoopFS is exercised against ``file:/`` URIs — the JVM's
LocalFileSystem goes through the exact same ``org.apache.hadoop.fs``
code path an hdfs:// or s3a:// URI would, so this is a real test of
the adapter (not a mock), minus only the remote wire.
"""

from __future__ import annotations

import pytest

from kubenetmon_spark import fs as fsmod
from kubenetmon_spark.fs import (
    HadoopFS,
    LocalFS,
    basename,
    get_fs,
    is_uri,
    join,
    parent,
)


def _roots(tmp_path, spark):
    local_root = str(tmp_path / "local")
    uri_root = "file:" + str(tmp_path / "hadoop")
    return [
        (LocalFS(), local_root),
        (HadoopFS(spark), uri_root),
    ]


class TestPathHelpers:
    def test_is_uri(self):
        assert is_uri("hdfs://nn/tables/x")
        assert is_uri("s3a://bucket/key")
        assert is_uri("file:/tmp/x")
        assert not is_uri("/tmp/x")
        assert not is_uri("relative/path")

    def test_join_local_and_uri(self):
        assert join("/a/b", "c") == "/a/b/c"
        assert join("s3a://bkt/t/", "date=2024-01-01") == (
            "s3a://bkt/t/date=2024-01-01"
        )
        assert join("/a", "b", "c.json") == "/a/b/c.json"

    def test_basename_parent(self):
        assert basename("s3a://bkt/t/date=x") == "date=x"
        assert parent("s3a://bkt/t/date=x") == "s3a://bkt/t"
        assert basename("/a/b") == "b"
        assert parent("/a/b") == "/a"

    def test_get_fs_dispatch(self, spark):
        assert isinstance(get_fs("/tmp/x"), LocalFS)
        assert isinstance(get_fs("file:/tmp/x", spark), HadoopFS)
        assert isinstance(get_fs("s3a://bkt/x", spark), HadoopFS)


class TestBothImpls:
    def test_roundtrip_text_and_exists(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(root)
            p = join(root, "_meta.json")
            assert not fs.exists(p)
            fs.write_text_atomic(p, '{"a": 1}')
            assert fs.exists(p) and fs.is_file(p) and not fs.is_dir(p)
            assert fs.read_json(p) == {"a": 1}
            # overwrite goes through the same atomic path
            fs.write_json_atomic(p, {"a": 2})
            assert fs.read_json(p) == {"a": 2}

    def test_mkdirs_list_delete(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(join(root, "d1"))
            fs.mkdirs(join(root, "d2"))
            fs.write_text_atomic(join(root, "f.txt"), "x")
            assert fs.list_names(root) == ["d1", "d2", "f.txt"]
            assert fs.is_dir(join(root, "d1"))
            fs.delete_dir(join(root, "d1"))
            assert not fs.exists(join(root, "d1"))
            # missing delete is tolerated by default, loud on demand
            fs.delete_dir(join(root, "gone"))
            with pytest.raises(FileNotFoundError):
                fs.delete_dir(join(root, "gone"), ignore_missing=False)

    def test_create_exclusive_is_a_lock(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(root)
            lock = join(root, "_log.lock")
            fs.create_exclusive(lock)
            with pytest.raises(FileExistsError):
                fs.create_exclusive(lock)
            fs.remove_file(lock)
            fs.create_exclusive(lock)  # reusable after release

    def test_rename_no_replace(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            src, dst = join(root, "tmp-1"), join(root, "entry")
            fs.mkdirs(src)
            fs.write_text_atomic(join(src, "x.txt"), "1")
            fs.rename_no_replace(src, dst)
            assert fs.read_text(join(dst, "x.txt")) == "1"
            fs.mkdirs(src)
            with pytest.raises(FileExistsError):
                fs.rename_no_replace(src, dst)  # lost the publish race

    def test_glob_parquet_applies_sparks_hidden_rule(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(join(root, "date=2024-01-01"))
            fs.mkdirs(join(root, "_temporary", "0"))
            fs.mkdirs(join(root, ".staging"))
            # dot-prefixed key=value is STILL hidden to Spark (only
            # underscore key=value is exempt)
            fs.mkdirs(join(root, ".k=1"))
            # _bid=N is Spark-visible (underscore BUT key=value form) —
            # streaming indexes use exactly this layout deliberately
            fs.mkdirs(join(root, "_bid=7"))
            fs.write_bytes_atomic(
                join(root, "date=2024-01-01", "part-0.parquet"), b"pq"
            )
            fs.write_bytes_atomic(
                join(root, "_bid=7", "part-b.parquet"), b"pq"
            )
            fs.write_bytes_atomic(
                join(root, "_temporary", "0", "part-x.parquet"), b"pq"
            )
            fs.write_bytes_atomic(
                join(root, ".staging", "part-y.parquet"), b"pq"
            )
            fs.write_bytes_atomic(join(root, ".k=1", "part-k.parquet"), b"pq")
            fs.write_bytes_atomic(join(root, "_SUCCESS"), b"")
            got = fs.glob_parquet(root)
            assert [basename(g) for g in got] == [
                "part-b.parquet", "part-0.parquet",
            ] or [basename(g) for g in got] == [
                "part-0.parquet", "part-b.parquet",
            ]
            all_got = fs.glob_parquet(root, include_hidden=True)
            assert len(all_got) == 5

    def test_walk_files_sizes(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(join(root, "a"))
            fs.write_bytes_atomic(join(root, "a", "f1"), b"12345")
            files = list(fs.walk_files(root))
            assert len(files) == 1
            full, size, mtime_ns = files[0]
            assert basename(full) == "f1" and size == 5 and mtime_ns > 0
            assert fs.file_size(join(root, "a", "f1")) == 5

    def test_copy_file_and_tree(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            src = join(root, "src")
            fs.mkdirs(join(src, "sub"))
            fs.write_text_atomic(join(src, "a.txt"), "A")
            fs.write_text_atomic(join(src, "sub", "b.txt"), "B")
            fs.copy_file(join(src, "a.txt"), join(root, "a2.txt"))
            assert fs.read_text(join(root, "a2.txt")) == "A"
            fs.copy_tree(src, join(root, "dst"))
            assert fs.read_text(join(root, "dst", "sub", "b.txt")) == "B"
            # source intact (copy, not move)
            assert fs.read_text(join(src, "a.txt")) == "A"

    def test_remove_file_missing_raises(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(root)
            with pytest.raises(FileNotFoundError):
                fs.remove_file(join(root, "nope"))


class TestSparkInterop:
    """Spark-written data must be visible through the adapter and
    vice versa — the actual deployment contract."""

    def test_spark_write_then_adapter_lifecycle(self, tmp_path, spark):
        for fs, root in _roots(tmp_path, spark):
            table = join(root, "t")
            spark.range(10).withColumnRenamed("id", "v").write.parquet(table)
            parts = fs.glob_parquet(table)
            assert parts, "adapter must see Spark-written parquet"
            # adapter-side marker next to the data, Spark still reads
            fs.write_json_atomic(join(table, "_marker.json"), {"ok": True})
            assert spark.read.parquet(table).count() == 10
            assert fs.read_json(join(table, "_marker.json")) == {"ok": True}
            fs.delete_dir(table)
            assert not fs.exists(table)

    def test_hadoop_uri_requires_session(self):
        # plain-path dispatch never needs spark
        assert isinstance(get_fs("/x"), LocalFS)


class TestSeekable:
    def test_pyarrow_footer_read_through_adapter(self, tmp_path, spark):
        import pyarrow.parquet as pq

        for fs, root in _roots(tmp_path, spark):
            table = join(root, "t")
            spark.range(100).write.parquet(table)
            f = fs.glob_parquet(table)[0]
            with fs.open_seekable(f) as fh:
                pf = pq.ParquetFile(fh)
                rows = pf.metadata.num_rows
                names = list(pf.schema_arrow.names)
            assert names == ["id"]
            # files may split rows across tasks; footer rows must sum
            total = 0
            for g in fs.glob_parquet(table):
                with fs.open_seekable(g) as fh:
                    total += pq.ParquetFile(fh).metadata.num_rows
            assert total == 100 and rows >= 1


class TestRenameLessStore:
    """Fault injection for object stores where rename is unavailable
    or loses races: publish-by-rename consumers must degrade to
    'serve the winner', and versioned-commit state (rates buffer)
    must never depend on rename at all."""

    def test_cache_survives_rename_failure(self, tmp_path, spark, monkeypatch):
        # every rename fails as if another publisher always wins: the
        # cache must still return the correct result (recompute, try to
        # publish, lose, serve) and never raise
        from kubenetmon_spark import cache as cache_mod
        from kubenetmon_spark.fs import LocalFS

        class NoRenameFS(LocalFS):
            def rename_no_replace(self, src, dst):
                raise FileExistsError(dst)

        monkeypatch.setattr(
            cache_mod._fsm, "get_fs", lambda path, spark=None: NoRenameFS()
        )
        tbl = str(tmp_path / "t")
        spark.range(30).write.parquet(tbl)
        base = spark.read.parquet(tbl)
        df = base.groupBy((base.id % 5).alias("g")).count()
        cache_dir = str(tmp_path / "cache")
        out = cache_mod.cached(spark, df, cache_dir)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, df.collect())
        )
        # nothing published, nothing leaked visible: only tmp debris
        from kubenetmon_spark.cache import cache_entries, drop_cache

        assert cache_entries(cache_dir) == []
        # a KEYED drop also sweeps the debris (keyed-drop-only
        # operators must not accumulate orphaned tmp dirs)
        import os

        assert any(n.startswith("_tmp-") for n in os.listdir(cache_dir))
        assert drop_cache(cache_dir, key="nonexistent") == 0
        assert not any(
            n.startswith("_tmp-") for n in os.listdir(cache_dir)
        )

    def test_rates_buffer_commit_is_rename_free(self, tmp_path, spark):
        # crash-mid-write shape: an UNCOMMITTED v=1 (no _SUCCESS) next
        # to a committed v=0 — the reader must pick v=0, never v=1;
        # this is the property that makes the buffer safe on stores
        # with non-atomic rename (it never renames at all)
        import os

        from kubenetmon_spark.streaming.rates import (
            _latest_buffer_version,
            read_buffer,
        )

        buf = tmp_path / "buf"
        spark.range(5).selectExpr(
            "concat('k', id) AS k", "CAST(id AS LONG) AS _ts",
            "CAST(id * 2 AS LONG) AS _v",
        ).write.parquet(str(buf / "v=0"))
        # fake a crashed write: data file present, no _SUCCESS
        (buf / "v=1").mkdir()
        import shutil

        part = next(
            p for p in (buf / "v=0").iterdir() if p.suffix == ".parquet"
        )
        shutil.copy2(part, buf / "v=1" / part.name)
        assert (buf / "v=0" / "_SUCCESS").exists()
        assert not (buf / "v=1" / "_SUCCESS").exists()
        assert _latest_buffer_version(str(buf)) == 0
        assert read_buffer(spark, str(buf)).count() == 5


class TestSeekableBounded:
    def test_mid_file_read_is_exactly_n_bytes(self, tmp_path, spark):
        # regression: the JVM read MUST be bounded by the requested
        # count (the py4j copyBytes int overload treated it as a
        # BUFFER size and copied to EOF)
        data = bytes(range(256)) * 64  # 16 KiB
        for fs, root in _roots(tmp_path, spark):
            fs.mkdirs(root)
            f = join(root, "blob.bin")
            fs.write_bytes_atomic(f, data)
            with fs.open_seekable(f) as fh:
                fh.seek(100)
                got = fh.read(16)
                assert got == data[100:116]
                assert fh.tell() == 116
                # backward seek after a read still lands right
                fh.seek(-8, 2)
                assert fh.read(8) == data[-8:]

    def test_footer_read_on_wide_schema(self, tmp_path, spark):
        # a footer larger than pyarrow's speculative tail read forces
        # multiple bounded range reads through the adapter
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kubenetmon_spark.fs import HadoopFS

        ncols = 3000  # footer ~ hundreds of KB
        table = pa.table(
            {f"c{i:04d}": pa.array([i], type=pa.int64()) for i in range(ncols)}
        )
        local = str(tmp_path / "wide.parquet")
        pq.write_table(table, local)
        fs = HadoopFS(spark)
        with fs.open_seekable("file:" + local) as fh:
            md = pq.read_metadata(fh)
        assert md.num_columns == ncols and md.num_rows == 1

    def test_glob_parquet_authority_spelling(self, tmp_path, spark):
        # file:// (authority/triple-slash) spelling must filter hidden
        # dirs exactly like the canonical file:/ spelling
        from kubenetmon_spark.fs import HadoopFS

        fs = HadoopFS(spark)
        root3 = "file://" + str(tmp_path / "t3")
        fs.mkdirs(join(root3, "_hidden"))
        fs.mkdirs(join(root3, "date=1"))
        fs.write_bytes_atomic(join(root3, "_hidden", "b.parquet"), b"pq")
        fs.write_bytes_atomic(join(root3, "date=1", "a.parquet"), b"pq")
        got = fs.glob_parquet(root3)
        assert [basename(g) for g in got] == ["a.parquet"]
