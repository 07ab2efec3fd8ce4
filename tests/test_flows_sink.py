"""Fan-out, SummingMergeTree contract, sink lifecycle tests."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
from kubenetmon_spark.operators.label import label_flows, split_rejected
from kubenetmon_spark.schema import NETWORK_FLOWS_SCHEMA
from kubenetmon_spark.sink import apply_retention, compact, read_flows, write_flows
from tests.fixtures import CFG, nodes_df, observations_df, pods_df, prefixes_df


@pytest.fixture(scope="module")
def fact(spark):
    prefixes = prefixes_df(spark)
    labeled = label_flows(observations_df(spark), pods_df(spark), nodes_df(spark), prefixes, CFG)
    accepted, _ = split_rejected(labeled)
    df = to_flow_rows(accepted)
    df.cache()
    return df


def test_fanout_two_rows_per_obs(fact):
    assert fact.count() == 24  # 12 accepted observations x 2 directions
    assert fact.filter(F.col("direction") == "out").count() == 12
    assert fact.filter(F.col("direction") == "in").count() == 12


def test_schema_matches_contract(fact):
    agg = summing_aggregate(fact)
    got = {f.name: f.dataType.simpleString() for f in agg.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in NETWORK_FLOWS_SCHEMA.fields}
    assert got == want


def test_counter_orientation(fact):
    out_row = fact.filter((F.col("localPort") == 5001) & (F.col("direction") == "out")).collect()[0]
    in_row = fact.filter((F.col("localPort") == 5001) & (F.col("direction") == "in")).collect()[0]
    assert out_row.bytes == 1000 and out_row.packets == 10
    assert in_row.bytes == 2000 and in_row.packets == 20


def test_summing_merge_contract(fact):
    agg = summing_aggregate(fact)
    # scenarios 18a+18b share key & minute -> folded; 18c is the next minute
    rows = agg.filter((F.col("localPort") == 5018) & (F.col("direction") == "out")).collect()
    by_minute = {r.intervalStartTime: (r.bytes, r.packets) for r in rows}
    assert by_minute[datetime(2024, 3, 1, 12, 0)] == (10 + 30, 1 + 3)
    assert by_minute[datetime(2024, 3, 1, 12, 1)] == (500, 5)
    assert all(r.intervalSeconds == 60 for r in rows)
    assert all(r.date == date(2024, 3, 1) for r in rows)


def test_sink_write_compact_retention(spark, fact, tmp_path):
    path = str(tmp_path / "network_flows")
    pre = to_flow_rows(split_rejected(
        label_flows(observations_df(spark), pods_df(spark), nodes_df(spark),
                    prefixes_df(spark), CFG))[0])
    # two appends simulate two micro-batches producing unmerged "parts"
    write_flows(pre, path)
    write_flows(pre, path)
    raw = read_flows(spark, path)
    assert raw.count() == 48
    # reads must re-aggregate (same caveat as ClickHouse unmerged parts);
    # after compaction the stored rows ARE the aggregate
    compact(spark, path)
    compacted = read_flows(spark, path)
    assert compacted.count() == summing_aggregate(pre).count()
    total = compacted.agg(F.sum("bytes")).collect()[0][0]
    assert total == 2 * pre.agg(F.sum("bytes")).collect()[0][0]
    # retention: everything is from 2024-03-01, so a 90-day TTL from "today"
    # drops the whole partition
    dropped = apply_retention(path, keep_days=90, today=date(2024, 9, 1))
    assert dropped == ["date=2024-03-01"]
    from pathlib import Path

    assert not list(Path(path).glob("date=*"))  # whole-part drop, like ttl_only_drop_parts


def _scrambled_flows(spark, n: int = 6000):
    """``n`` flow rows over three dates with varied key columns, in an
    order that is not the key order."""
    from kubenetmon_spark.schema import NETWORK_FLOWS_SCHEMA as S

    def gen(c: str, k: int) -> str:
        return f"pmod(hash(id, '{c}'), {k})"

    exprs = {
        "date": "date_add(DATE'2024-03-01', CAST(id % 3 AS INT))",
        "intervalStartTime": "timestamp_seconds(1709294400 + 86400 * (id % 3)"
        f" + 60 * {gen('t', 30)})",
        "intervalSeconds": "60",
        "connectionFlags": "map('syn', id % 2 = 0)",
        "direction": f"IF({gen('d', 2)} = 0, 'in', 'out')",
        "proto": f"IF({gen('p', 2)} = 0, 'TCP', 'UDP')",
        "localPort": gen("lp", 50),
        "remotePort": gen("rp", 50),
        "bytes": "id",
        "packets": "id % 7",
    }
    cols = []
    for f in S.fields:
        expr = exprs.get(f.name, f"concat('{f.name}', {gen(f.name, 5)})")
        cols.append(f"CAST({expr} AS {f.dataType.simpleString()}) AS {f.name}")
    return spark.range(0, n, 1, 4).selectExpr(*cols)


def test_every_sorted_writer_orders_files_on_date_and_key(spark, tmp_path):
    """Each writer that sorts a date-partitioned rewrite leaves every
    file ordered on its key: the sort leads with ``date``, which Spark's
    planned write requires, so its own sort on ``date`` does not replace
    the key sort."""
    from kubenetmon_spark.schema import PRIMARY_KEY_PREFIX as KEY
    from kubenetmon_spark.sink import (
        apply_rollup_ttl,
        clear_column_in_partition,
        deduplicate,
        delete_where,
        mutate,
        write_projection,
    )
    from tests.fixtures import unsorted_files

    rows = _scrambled_flows(spark)
    path, proj = str(tmp_path / "flows"), str(tmp_path / "proj")
    steps = [
        ("write_flows", lambda: write_flows(rows, path)),
        ("write_flows again", lambda: write_flows(rows, path)),
        ("compact", lambda: compact(spark, path)),
        ("mutate", lambda: mutate(spark, path, "localPort % 3 = 0", {"bytes": "bytes + 1"})),
        ("delete_where", lambda: delete_where(spark, path, "localPort % 5 = 0")),
        ("deduplicate", lambda: (write_flows(rows, path), deduplicate(spark, path))),
        ("clear_column", lambda: clear_column_in_partition(spark, path, "date=2024-03-02", "remoteService")),
        ("rollup_ttl", lambda: apply_rollup_ttl(spark, path, age_days=7, granularity_seconds=3600, today=date(2024, 3, 20))),
    ]
    for name, step in steps:
        step()
        assert unsorted_files(path, KEY) == [], name
    write_projection(spark, path, proj, ["remoteApp", "remotePod"])
    assert unsorted_files(proj, ["remoteApp", "remotePod"]) == []
    assert read_flows(spark, path).select("date").distinct().count() == 3


class TestCompactMergeDebt:
    """r8: under ``presummed=True`` (every append was summing_aggregate
    output — the streaming sink's posture) compact cost is proportional
    to merge debt: partitions with at most one data file are skipped
    without a read, a lock, or a job. The default keeps the general
    full-rewrite contract for tables that may hold unaggregated files."""

    def test_single_file_partitions_skipped_untouched(
        self, spark, fact, tmp_path
    ):
        import glob
        import os

        path = str(tmp_path / "flows_debt0")
        write_flows(summing_aggregate(fact), path)  # one batch: 1 file/date
        files = sorted(glob.glob(f"{path}/date=*/*.parquet"))
        assert files
        mtimes = {f: os.stat(f).st_mtime_ns for f in files}
        before = sorted(map(tuple, read_flows(spark, path).collect()))
        compact(spark, path, presummed=True)
        after_files = sorted(glob.glob(f"{path}/date=*/*.parquet"))
        # the same physical files, byte-untouched — compact was a listing
        assert after_files == files
        assert {f: os.stat(f).st_mtime_ns for f in after_files} == mtimes
        assert sorted(map(tuple, read_flows(spark, path).collect())) == before
        # the DEFAULT (no declaration) still rewrites single-file
        # partitions — the general contract for external writers
        compact(spark, path)
        rewritten = sorted(glob.glob(f"{path}/date=*/*.parquet"))
        assert rewritten != files
        assert sorted(map(tuple, read_flows(spark, path).collect())) == before

    def test_mixed_debt_rewrites_only_debted_partition(
        self, spark, fact, tmp_path
    ):
        import glob
        import os

        path = str(tmp_path / "flows_debt_mixed")
        d1 = summing_aggregate(fact)  # all rows on 2024-03-01
        d2 = (
            d1.withColumn("date", F.date_add("date", 1))
            .withColumn(
                "intervalStartTime",
                F.col("intervalStartTime") + F.expr("INTERVAL 1 DAY"),
            )
        )
        write_flows(d1.unionByName(d2), path)  # batch 1: both dates
        write_flows(d2, path)  # batch 2: only the second date
        f1_before = sorted(glob.glob(f"{path}/date=2024-03-01/*.parquet"))
        m1_before = {f: os.stat(f).st_mtime_ns for f in f1_before}
        assert len(glob.glob(f"{path}/date=2024-03-02/*.parquet")) == 2
        compact(spark, path, presummed=True)
        # debt-free partition: same physical file, untouched
        f1_after = sorted(glob.glob(f"{path}/date=2024-03-01/*.parquet"))
        assert f1_after == f1_before
        assert {f: os.stat(f).st_mtime_ns for f in f1_after} == m1_before
        # debted partition: folded to one file, sums doubled
        assert len(glob.glob(f"{path}/date=2024-03-02/*.parquet")) == 1
        got = read_flows(spark, path)
        assert got.filter(F.col("date") == "2024-03-02").count() == d2.count()
        s1 = got.filter(F.col("date") == "2024-03-01").agg(
            F.sum("bytes")
        ).collect()[0][0]
        s2 = got.filter(F.col("date") == "2024-03-02").agg(
            F.sum("bytes")
        ).collect()[0][0]
        assert s2 == 2 * s1


class TestTableStats:
    def test_stats_reflect_compaction(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import table_stats

        path = str(tmp_path / "flows")
        rows = fact
        write_flows(rows, path)
        write_flows(rows, path)  # second batch: same keys again
        before = table_stats(path)
        assert before and all(p["n_files"] >= 2 for p in before)
        total_before = sum(p["n_rows"] for p in before)

        compact(spark, path)
        after = table_stats(path)
        assert sum(p["n_rows"] for p in after) < total_before
        assert all(p["n_files"] == 1 for p in after)
        assert [p["partition"] for p in after] == sorted(p["partition"] for p in after)


def test_read_flows_schema_evolution(spark, tmp_path):
    """A column added in a later partition surfaces via merge_schema=True
    (null in old partitions) and stays invisible without it."""
    from pyspark.sql import functions as F

    from kubenetmon_spark.sink import read_flows

    p = str(tmp_path / "evolve")
    spark.createDataFrame([("2024-01-01", 10)], ["date", "bytes"]).write.partitionBy(
        "date"
    ).parquet(p)
    spark.createDataFrame(
        [("2024-01-02", 20, "tcp-fast-open")], ["date", "bytes", "new_flag"]
    ).write.mode("append").partitionBy("date").parquet(p)

    plain = read_flows(spark, p)
    merged = read_flows(spark, p, merge_schema=True)
    assert "new_flag" in merged.columns
    rows = {
        str(r.date): r.new_flag
        for r in merged.select("date", "new_flag").collect()
    }
    assert rows["2024-01-01"] is None and rows["2024-01-02"] == "tcp-fast-open"
    # without merging, reads still work on the base schema
    assert plain.select(F.sum("bytes")).collect()[0][0] == 30


def test_projection_chooser_and_equivalence(spark, tmp_path):
    """write_projection keeps the same rows under an alternate sort;
    scan_flows routes by sort-prefix coverage and falls back to base."""
    from kubenetmon_spark.sink import scan_flows, write_projection

    base = str(tmp_path / "base")
    proj = str(tmp_path / "proj")
    rows = [
        ("2024-01-01", "appA", "rem9", 10),
        ("2024-01-01", "appB", "rem1", 20),
        ("2024-01-02", "appA", "rem5", 30),
    ]
    df = spark.createDataFrame(rows, ["date", "localApp", "remoteApp", "bytes"])
    df.write.partitionBy("date").parquet(base)
    write_projection(spark, base, proj, ["remoteApp", "localApp"])

    projections = {proj: ("remoteApp", "localApp")}
    # remote-side predicate -> projection copy wins
    picked = scan_flows(spark, base, ["remoteApp"], projections)
    assert picked.inputFiles()[0].startswith("file:" + proj) or proj in picked.inputFiles()[0]
    # no sort-prefix coverage -> base
    fallback = scan_flows(spark, base, ["bytes"], projections)
    assert proj not in fallback.inputFiles()[0]
    # identical data either way
    from pyspark.sql import functions as F

    sel = [F.col("date").cast("string"), "localApp", "remoteApp", "bytes"]
    a = sorted(map(tuple, picked.select(*sel).collect()))
    b = sorted(map(tuple, fallback.select(*sel).collect()))
    assert a == b == sorted(rows)


class TestMutations:
    def _write(self, spark, fact, tmp_path):
        path = str(tmp_path / "flows")
        write_flows(fact, path)
        return path

    def test_mutate_updates_only_matching_rows(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import mutate

        path = self._write(spark, fact, tmp_path)
        before = read_flows(spark, path)
        schema_before = before.schema
        n_total = before.count()
        # materialize every before-value NOW: `before` is lazy over files
        # the mutation will replace
        sum_in_bytes = (
            before.filter("direction = 'in'").agg(F.sum("bytes")).collect()[0][0]
        )
        sum_out_bytes = (
            before.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
        )
        rewritten = mutate(
            spark, path, "direction = 'out'", {"bytes": "bytes * 2"}
        )
        assert rewritten  # at least one partition touched
        after = read_flows(spark, path)
        assert after.count() == n_total  # mutation never changes row count
        assert (
            after.filter("direction = 'in'").agg(F.sum("bytes")).collect()[0][0]
            == sum_in_bytes
        )  # non-matching rows byte-identical
        assert (
            after.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
            == 2 * sum_out_bytes
        )
        assert after.schema == schema_before  # types preserved by cast

    def test_mutate_safe_under_static_overwrite_session(
        self, spark, fact, tmp_path
    ):
        # Regression: the partition-scoped rewrites inherited
        # partitionOverwriteMode from the session; under Spark's default
        # "static" a one-partition mutation wiped every other partition.
        # The pin is per-write, so even a static session stays safe.
        from kubenetmon_spark.sink import mutate

        two_day = fact.unionByName(
            fact.withColumn("date", F.date_add("date", 1))
        )
        path = self._write(spark, two_day, tmp_path)
        dates = sorted(
            str(r.date)
            for r in read_flows(spark, path).select("date").distinct().collect()
        )
        assert len(dates) == 2
        n_before = read_flows(spark, path).count()
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            rewritten = mutate(
                spark,
                path,
                f"direction = 'out' AND date = '{dates[0]}'",
                {"bytes": "bytes + 1"},
            )
        finally:
            spark.conf.set(key, prev)
        assert rewritten == [f"date={dates[0]}"]
        after = read_flows(spark, path)
        assert after.count() == n_before  # other partitions survived
        assert sorted(
            str(r.date) for r in after.select("date").distinct().collect()
        ) == dates

    def test_mutate_no_match_touches_nothing(self, spark, fact, tmp_path):
        import os

        from kubenetmon_spark.sink import mutate

        path = self._write(spark, fact, tmp_path)
        files_before = {
            p: os.path.getmtime(p)
            for p in __import__("glob").glob(f"{path}/date=*/*.parquet")
        }
        assert mutate(spark, path, "bytes < 0", {"bytes": "0"}) == []
        files_after = {
            p: os.path.getmtime(p)
            for p in __import__("glob").glob(f"{path}/date=*/*.parquet")
        }
        assert files_before == files_after  # zero partitions rewritten

    def test_delete_where_row_level(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import delete_where

        path = self._write(spark, fact, tmp_path)
        before = read_flows(spark, path)
        n_total = before.count()
        n_del = before.filter("direction = 'out'").count()
        assert 0 < n_del < n_total
        delete_where(spark, path, "direction = 'out'")
        after = read_flows(spark, path)
        assert after.count() == n_total - n_del
        assert after.filter("direction = 'out'").count() == 0

    def test_delete_where_drops_emptied_partition(self, spark, fact, tmp_path):
        from pathlib import Path

        from kubenetmon_spark.sink import delete_where

        path = str(tmp_path / "flows")
        write_flows(fact, path)
        write_flows(fact.withColumn("date", F.date_add("date", 1)), path)
        parts = sorted(p.name for p in Path(path).glob("date=*"))
        assert len(parts) == 2
        victim = parts[0].split("=", 1)[1]
        delete_where(spark, path, f"date = '{victim}'")
        assert not (Path(path) / f"date={victim}").exists()
        survivors = read_flows(spark, path)
        assert survivors.filter(F.col("date") == victim).count() == 0


class TestDeduplicate:
    def test_full_row_dedup_halves_doubled_table(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import deduplicate

        path = str(tmp_path / "flows_dup")
        write_flows(fact.unionByName(fact), path)
        n_doubled = read_flows(spark, path).count()
        rewritten = deduplicate(spark, path)
        assert rewritten
        after = read_flows(spark, path)
        assert after.count() == n_doubled // 2
        # (can't assert via .distinct(): the map column forbids set ops —
        # the very reason deduplicate canonicalizes it internally)
        assert after.count() == fact.count()
        # idempotent: second pass touches nothing
        assert deduplicate(spark, path) == []

    def test_by_key_keeps_deterministic_row(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import deduplicate

        path = str(tmp_path / "flows_bykey")
        doubled = fact.unionByName(
            fact.withColumn("bytes", F.col("bytes") + 1)
        )
        write_flows(doubled, path)
        key = [c for c in doubled.columns if c not in ("bytes", "packets")]
        deduplicate(spark, path, by=key)
        after = read_flows(spark, path)
        assert after.groupBy(*key).count().filter("count > 1").count() == 0
        # deterministic pick: min over the canonical string of the rest —
        # rerunning the whole flow yields identical bytes sums
        s1 = after.agg(F.sum("bytes")).collect()[0][0]
        path2 = str(tmp_path / "flows_bykey2")
        write_flows(doubled, path2)
        deduplicate(spark, path2, by=key)
        s2 = read_flows(spark, path2).agg(F.sum("bytes")).collect()[0][0]
        assert s1 == s2


class TestSampleFiles:
    def test_deterministic_subset_with_partition_cols(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import sample_files, table_stats

        import hashlib
        from pathlib import Path

        path = str(tmp_path / "flows_sample")
        for _ in range(6):  # six append batches -> six files
            write_flows(fact, path)
        n_files = sum(s["n_files"] for s in table_stats(path))
        assert n_files == 6

        # expected pick set straight from the documented md5 rule
        rel = sorted(
            str(p.relative_to(path)) for p in Path(path).rglob("*.parquet")
        )
        expected_kept = [
            f
            for f in rel
            if int(hashlib.md5(f"{f}|s0".encode()).hexdigest()[:8], 16) % 100
            < 50
        ]
        per_file_rows = fact.count()

        s50a = sample_files(spark, path, 50)
        s50b = sample_files(spark, path, 50)
        assert s50a.count() == s50b.count()  # deterministic
        assert s50a.count() == len(expected_kept) * per_file_rows
        assert "date" in s50a.columns  # basePath recovered partitions

        full = read_flows(spark, path).count()
        assert sample_files(spark, path, 100).count() == full
        assert sample_files(spark, path, 0).count() == 0
        # 0% keeps the schema
        assert set(sample_files(spark, path, 0).columns) == set(
            read_flows(spark, path).columns
        )


class TestRollupTtl:
    def test_old_partitions_age_into_daily_rows(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "flows_ttl")
        write_flows(fact, path)
        before = read_flows(spark, path)
        n_before = before.count()
        bytes_before = before.agg(F.sum("bytes")).collect()[0][0]
        pkts_before = before.agg(F.sum("packets")).collect()[0][0]

        # all fixture data is 2024-03-01; a cutoff after it triggers aging
        rewritten = apply_rollup_ttl(
            spark, path, age_days=7, today=date(2024, 3, 20)
        )
        assert rewritten == ["date=2024-03-01"]
        after = read_flows(spark, path)
        assert after.count() < n_before  # minutes folded into days
        assert after.agg(F.sum("bytes")).collect()[0][0] == bytes_before
        assert after.agg(F.sum("packets")).collect()[0][0] == pkts_before
        assert after.select("intervalSeconds").distinct().collect()[0][0] == 86400
        # every timestamp now sits on a day boundary
        assert (
            after.filter(
                F.col("intervalStartTime")
                != F.date_trunc("day", F.col("intervalStartTime"))
            ).count()
            == 0
        )
        # idempotent: aging again changes nothing
        n1 = after.count()
        apply_rollup_ttl(spark, path, age_days=7, today=date(2024, 3, 20))
        assert read_flows(spark, path).count() == n1

    def test_recent_partitions_untouched(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "flows_ttl2")
        write_flows(fact, path)
        n = read_flows(spark, path).count()
        assert (
            apply_rollup_ttl(spark, path, age_days=7, today=date(2024, 3, 2))
            == []
        )
        assert read_flows(spark, path).count() == n


class TestBackfill:
    def test_backfill_restores_lost_partition_and_leaves_others(
        self, spark, tmp_path
    ):
        import shutil
        from pathlib import Path

        from kubenetmon_spark.backfill import backfill_dates
        from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
        from kubenetmon_spark.operators.flows import (
            summing_aggregate,
            to_flow_rows,
        )
        from kubenetmon_spark.operators.label import (
            label_flows,
            split_rejected,
        )
        from kubenetmon_spark.sink import read_flows, write_flows
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        table = str(tmp_path / "flows")
        obs, pods, nodes, prefixes = build_flow_inputs(spark, sf)
        labeled = label_flows(obs, pods, nodes, prefixes, DEMO_CFG)
        accepted, _ = split_rejected(labeled)
        write_flows(summing_aggregate(to_flow_rows(accepted)), table)

        def per_date():
            return {
                str(r.date): (r.b, r.p, r.n)
                for r in read_flows(spark, table)
                .groupBy("date")
                .agg(
                    F.sum("bytes").alias("b"),
                    F.sum("packets").alias("p"),
                    F.count("*").alias("n"),
                )
                .collect()
            }

        before = per_date()
        assert len(before) >= 2
        victim = sorted(before)[0]
        survivor = sorted(before)[1]
        shutil.rmtree(Path(table) / f"date={victim}")
        assert victim not in per_date()

        surv_files = sorted(
            p.name for p in (Path(table) / f"date={survivor}").iterdir()
        )
        n = backfill_dates(
            spark, obs, table, [victim], pods, nodes, prefixes, DEMO_CFG
        )
        assert n > 0
        after = per_date()
        assert after == before
        # untouched partitions keep their exact files
        assert (
            sorted(
                p.name
                for p in (Path(table) / f"date={survivor}").iterdir()
            )
            == surv_files
        )
        # idempotent: rerun converges to the same content
        backfill_dates(
            spark, obs, table, [victim], pods, nodes, prefixes, DEMO_CFG
        )
        assert per_date() == before


class TestQueryLog:
    def test_log_entry_and_slow_query_surface(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from kubenetmon_spark.querylog import run_logged, slow_queries

        log = str(tmp_path / "qlog")
        df = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
        e1 = run_logged(spark, "mod7", df, log)
        assert e1["n_output_rows"] == 7 and e1["wall_s"] > 0
        # same logical query -> same plan hash; different query -> different
        e2 = run_logged(spark, "mod7_again", df, log)
        assert e2["plan_hash"] == e1["plan_hash"]
        other = spark.range(10).groupBy((F.col("id") % 3).alias("g")).count()
        e3 = run_logged(spark, "mod3", other, log)
        assert e3["plan_hash"] != e1["plan_hash"]

        entries = spark.read.parquet(log)
        assert entries.count() == 3
        slow = slow_queries(spark, log, threshold_s=0.0)
        rows = {r.name: r for r in slow.collect()}
        assert rows["mod7"].n_runs == 2
        assert rows["mod3"].n_runs == 1


class TestPartitionOps:
    @pytest.fixture()
    def two_tables(self, spark, tmp_path):
        prod, stage = str(tmp_path / "prod"), str(tmp_path / "stage")
        mk = lambda d, v: spark.createDataFrame(
            [(d, f"p{i}", v) for i in range(5)],
            "date string, pod string, bytes long",
        )
        for d in ("2024-01-01", "2024-01-02"):
            mk(d, 1).write.mode("append").partitionBy("date").parquet(prod)
        mk("2024-01-02", 99).write.partitionBy("date").parquet(stage)
        return prod, stage

    def test_detach_attach_roundtrip(self, spark, two_tables):
        from kubenetmon_spark.sink import (
            attach_partition,
            detach_partition,
            detached_partitions,
        )

        prod, _ = two_tables
        assert spark.read.parquet(prod).count() == 10
        detach_partition(prod, "2024-01-01")
        # underscore dir is invisible to scans
        assert spark.read.parquet(prod).count() == 5
        assert detached_partitions(prod) == ["2024-01-01"]
        with pytest.raises(FileNotFoundError):
            detach_partition(prod, "2024-01-01")
        attach_partition(prod, "2024-01-01")
        assert spark.read.parquet(prod).count() == 10
        assert detached_partitions(prod) == []

    def test_replace_partition_swaps_values_and_keeps_source(
        self, spark, two_tables
    ):
        from kubenetmon_spark.sink import replace_partition

        prod, stage = two_tables
        replace_partition(prod, stage, "2024-01-02")
        got = (
            spark.read.parquet(prod)
            .groupBy("date")
            .agg(F.sum("bytes").alias("s"))
            .collect()
        )
        assert {(str(r.date), r.s) for r in got} == {
            ("2024-01-01", 5),
            ("2024-01-02", 495),
        }
        # source table unchanged (REPLACE copies)
        assert spark.read.parquet(stage).count() == 5

    def test_move_partition_transfers_and_schema_guard(
        self, spark, two_tables, tmp_path
    ):
        from kubenetmon_spark.sink import move_partition

        prod, stage = two_tables
        dest = str(tmp_path / "dest")
        move_partition(prod, dest, "2024-01-01")
        assert spark.read.parquet(dest).count() == 5
        assert spark.read.parquet(prod).count() == 5
        # schema-incompatible destination refuses
        bad = str(tmp_path / "bad")
        spark.createDataFrame(
            [("2024-01-05", 1.5)], "date string, other double"
        ).write.partitionBy("date").parquet(bad)
        with pytest.raises(ValueError, match="schema mismatch"):
            move_partition(stage, bad, "2024-01-02")


class TestBackupRestore:
    def test_full_backup_restore_roundtrip(self, spark, tmp_path):
        from kubenetmon_spark.sink import backup_table, restore_table

        src = str(tmp_path / "t")
        spark.createDataFrame(
            [("2024-01-01", i) for i in range(20)]
            + [("2024-01-02", i) for i in range(30)],
            "date string, v long",
        ).write.partitionBy("date").parquet(src)
        bk = str(tmp_path / "bk")
        man = backup_table(src, bk)
        assert man["n_files"] >= 2
        dest = str(tmp_path / "restored")
        n = restore_table(bk, dest)
        assert n == man["n_files"]
        a = sorted(map(tuple, spark.read.parquet(src).collect()))
        b = sorted(map(tuple, spark.read.parquet(dest).collect()))
        assert a == b

    def test_incremental_backup_skips_unchanged(self, spark, tmp_path):
        from kubenetmon_spark.sink import backup_table, restore_table

        src = str(tmp_path / "t2")
        spark.createDataFrame(
            [("2024-01-01", 1)], "date string, v long"
        ).write.partitionBy("date").parquet(src)
        base = str(tmp_path / "base")
        backup_table(src, base)
        # append a new partition; incremental backup copies only it
        spark.createDataFrame(
            [("2024-01-02", 2)], "date string, v long"
        ).write.mode("append").partitionBy("date").parquet(src)
        inc = str(tmp_path / "inc")
        man = backup_table(src, inc, base_backup=base)
        copied = [e for e in man["files"] if not e.get("in_base")]
        in_base = [e for e in man["files"] if e.get("in_base")]
        assert len(in_base) >= 1 and len(copied) >= 1
        assert all("2024-01-02" in e["path"] for e in copied)
        dest = str(tmp_path / "r2")
        restore_table(inc, dest)
        assert spark.read.parquet(dest).count() == 2

    def test_corrupt_backup_refuses_restore(self, spark, tmp_path):
        from kubenetmon_spark.sink import backup_table, restore_table
        from pathlib import Path

        src = str(tmp_path / "t3")
        spark.createDataFrame(
            [("2024-01-01", 1)], "date string, v long"
        ).write.partitionBy("date").parquet(src)
        bk = str(tmp_path / "bk3")
        man = backup_table(src, bk)
        victim = Path(bk) / man["files"][0]["path"]
        victim.write_bytes(victim.read_bytes()[:-4] + b"XXXX")
        with pytest.raises(ValueError, match="checksum mismatch"):
            restore_table(bk, str(tmp_path / "r3"))


class TestColumnTtl:
    @pytest.fixture()
    def table(self, spark, tmp_path):
        path = str(tmp_path / "ttl_tbl")
        spark.createDataFrame(
            [(d, i, f"pod-{i}", 100 * i)
             for d in ("2024-02-01", "2024-02-20", "2024-03-01")
             for i in range(4)],
            "date string, k int, podName string, bytes long",
        ).withColumn("date", F.col("date").cast("date")).write.partitionBy(
            "date"
        ).parquet(path)
        return path

    def test_clear_column_in_partition(self, spark, table):
        from kubenetmon_spark.sink import clear_column_in_partition

        clear_column_in_partition(
            spark, table, "date=2024-02-01", "podName", "'<expired>'"
        )
        df = spark.read.parquet(table)
        old = df.filter("date = '2024-02-01'")
        assert old.count() == 4  # rows kept
        assert {r.podName for r in old.collect()} == {"<expired>"}
        # other partitions and other columns untouched
        assert df.filter("date = '2024-03-01' AND podName = 'pod-1'").count() == 1
        assert df.filter("date = '2024-02-01'").agg(
            F.sum("bytes")
        ).collect()[0][0] == 600

    def test_unknown_column_refused(self, spark, table):
        from kubenetmon_spark.sink import clear_column_in_partition

        with pytest.raises(ValueError):
            clear_column_in_partition(spark, table, "date=2024-02-01", "nope")

    def test_column_ttl_cutoff_and_idempotence(self, spark, table):
        from kubenetmon_spark.sink import apply_column_ttl

        done = apply_column_ttl(
            spark, table, "podName", keep_days=10,
            today=date(2024, 3, 5),
        )
        # 02-01 and 02-20 are older than 10 days before 03-05; 03-01 is not
        assert done == ["date=2024-02-01", "date=2024-02-20"]
        df = spark.read.parquet(table)
        assert df.filter("date < '2024-03-01'").filter(
            "podName IS NOT NULL"
        ).count() == 0
        assert df.filter("date = '2024-03-01' AND podName IS NULL").count() == 0
        # second run: markers make it a no-op (each partition once)
        assert apply_column_ttl(
            spark, table, "podName", keep_days=10, today=date(2024, 3, 5)
        ) == []

    def test_per_column_markers_independent(self, spark, table):
        from kubenetmon_spark.sink import apply_column_ttl

        apply_column_ttl(spark, table, "podName", 10, today=date(2024, 3, 5))
        # a different column's TTL still processes the same partitions
        done = apply_column_ttl(
            spark, table, "bytes", 25, default_sql="0",
            today=date(2024, 3, 5),
        )
        assert done == ["date=2024-02-01"]
        df = spark.read.parquet(table)
        assert df.filter("date = '2024-02-01'").agg(
            F.sum("bytes")
        ).collect()[0][0] == 0
        assert df.filter("date = '2024-02-20'").agg(
            F.sum("bytes")
        ).collect()[0][0] == 600


class TestColumnStats:
    def test_footer_only_column_profile(self, spark, tmp_path):
        from kubenetmon_spark.sink import column_stats

        path = str(tmp_path / "cstats")
        spark.createDataFrame(
            [("2024-03-01", i, f"payload-{i}-" * 40, i if i % 2 else None)
             for i in range(100)],
            "date string, k long, fat string, maybe long",
        ).write.partitionBy("date").parquet(path)
        stats = {r["column"]: r for r in column_stats(path)}
        assert set(stats) == {"k", "fat", "maybe"}  # partition col not physical
        assert stats["fat"]["physical_type"] == "BYTE_ARRAY"
        # the unique ~450-char string column dominates storage -> first
        assert column_stats(path)[0]["column"] == "fat"
        assert stats["k"]["n_values"] == 100 and stats["k"]["n_nulls"] == 0
        assert stats["maybe"]["n_nulls"] == 50
        assert stats["k"]["has_minmax_stats"] is True
        assert stats["k"]["compressed_bytes"] > 0


class TestUriLifecycle:
    """The full partition lifecycle against URI-form (file:) table
    roots through the Hadoop FS adapter — the deployment shape where
    tables live on hdfs://s3a:// object storage."""

    def test_partition_ops_on_uri_root(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from kubenetmon_spark.sink import (
            apply_retention,
            attach_partition,
            backup_table,
            detach_partition,
            detached_partitions,
            restore_table,
            table_stats,
        )

        tbl = "file:" + str(tmp_path / "t")
        df = spark.range(100).select(
            F.to_date(
                F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1))
            ).alias("date"),
            (F.col("id") * 7).alias("v"),
        )
        df.write.partitionBy("date").parquet(tbl)
        assert spark.read.parquet(tbl).count() == 100

        # stats through footers over the adapter
        stats = table_stats(tbl)
        assert sum(s["n_rows"] for s in stats) == 100
        assert {s["partition"] for s in stats} == {
            "date=2024-01-01", "date=2024-01-02", "date=2024-01-03",
        }

        # detach: invisible to scans, listed as detached
        detach_partition(tbl, "2024-01-02")
        assert detached_partitions(tbl) == ["2024-01-02"]
        n_without = spark.read.parquet(tbl).count()
        assert n_without < 100
        attach_partition(tbl, "2024-01-02")
        assert spark.read.parquet(tbl).count() == 100
        assert detached_partitions(tbl) == []

        # backup -> restore roundtrip with checksum verification
        bdir = "file:" + str(tmp_path / "bkp")
        manifest = backup_table(tbl, bdir)
        assert manifest["n_files"] >= 3
        dest = "file:" + str(tmp_path / "restored")
        assert restore_table(bdir, dest) == manifest["n_files"]
        assert spark.read.parquet(dest).count() == 100

        # retention drops whole partitions through the adapter
        import datetime as dt

        dropped = apply_retention(
            tbl, keep_days=1, today=dt.date(2024, 1, 3)
        )
        assert dropped == ["date=2024-01-01"]
        assert spark.read.parquet(tbl).count() < 100

    def test_move_partition_mixed_forms_refused(self, spark, tmp_path):
        import pytest as _pytest

        from kubenetmon_spark.sink import move_partition

        with _pytest.raises(ValueError, match="mix local and URI"):
            move_partition(
                "file:" + str(tmp_path / "a"), str(tmp_path / "b"), "2024-01-01"
            )


class TestMutationGuard:
    """compact/retention vs concurrent appends — the ENFORCED protocol
    (sink.partition_mutation_guard + sink.append_intent), not the old
    documented-only 'closed partitions' caveat. MergeTree background
    merges are safe under concurrent inserts; these tests pin the same
    guarantee here: an append either lands before the mutation reads
    (and is folded in) or after its overwrite (and survives it), or one
    side fails LOUD — never a silently lost row."""

    PART = "date=2024-03-01"

    def test_append_refused_while_partition_locked(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import append_intent, partition_mutation_guard

        path = str(tmp_path / "t1")
        write_flows(fact, path)
        with partition_mutation_guard(path, self.PART):
            with pytest.raises(TimeoutError, match="lifecycle lock"):
                with append_intent(path, [self.PART], wait_s=0.6):
                    pass  # pragma: no cover - must not be reached
            # no intent litter left behind by the refused append
            from kubenetmon_spark import fs as _fsm
            from kubenetmon_spark.sink import _live_intents

            assert _live_intents(_fsm.get_fs(path), path, self.PART) == []
        # lock released -> the append proceeds and lands
        with append_intent(path, [self.PART], wait_s=5.0):
            write_flows(fact, path)
        assert read_flows(spark, path).count() == 48

    def test_table_wide_lock_blocks_every_partition(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import append_intent, partition_mutation_guard

        path = str(tmp_path / "t2")
        write_flows(fact, path)
        with partition_mutation_guard(path, None):  # compact-all shape
            with pytest.raises(TimeoutError, match="lifecycle lock"):
                with append_intent(path, ["date=2099-01-01"], wait_s=0.6):
                    pass  # pragma: no cover

    def test_unrelated_partition_append_not_blocked(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import append_intent, partition_mutation_guard

        path = str(tmp_path / "t3")
        write_flows(fact, path)
        with partition_mutation_guard(path, self.PART):
            # hot partition elsewhere keeps flowing during a cold compact
            with append_intent(path, ["date=2099-01-01"], wait_s=2.0):
                pass

    def test_mutator_waits_out_inflight_append_then_fails_loud(
        self, spark, fact, tmp_path
    ):
        import time

        from kubenetmon_spark import fs as _fsm
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import _intent_dir

        path = str(tmp_path / "t4")
        write_flows(fact, path)
        fs = _fsm.get_fs(path)
        d = _intent_dir(path, self.PART)
        fs.mkdirs(d)
        intent = _join(d, "deadbeef.json")
        fs.write_json_atomic(intent, {"created_unix": time.time()})
        # a (possibly crashed) appender is in flight: compaction refuses
        # loudly, naming the intent
        with pytest.raises(TimeoutError, match="deadbeef"):
            compact(spark, path, target_date="2024-03-01", drain_timeout_s=0.8)
        fs.remove_file(intent)
        compact(spark, path, target_date="2024-03-01")  # now proceeds
        assert read_flows(spark, path).count() == summing_aggregate(fact).count()

    def test_forced_mid_compact_append_loses_no_rows(
        self, spark, fact, tmp_path, monkeypatch
    ):
        """The round-5 race, forced: an append arrives while compact is
        inside its read-checkpoint window. The guard serializes them —
        the final table carries BOTH the compacted base and the
        appended batch (pre-guard, the overwrite silently deleted the
        appended files)."""
        import threading
        import time

        import kubenetmon_spark.sink as sink_mod
        from kubenetmon_spark.sink import append_intent

        path = str(tmp_path / "t5")
        write_flows(fact, path)
        base = fact.agg(F.sum("bytes")).collect()[0][0]

        real = sink_mod.summing_aggregate

        def slow_summing(df):
            out = real(df)
            time.sleep(1.5)  # hold the read-to-overwrite window open
            return out

        monkeypatch.setattr(sink_mod, "summing_aggregate", slow_summing)
        errs: list[Exception] = []

        def run_compact():
            try:
                compact(spark, path, target_date="2024-03-01")
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        t = threading.Thread(target=run_compact)
        t.start()
        time.sleep(0.5)  # compact now holds the lock, mid-read
        with append_intent(path, [self.PART], wait_s=30.0):
            write_flows(fact, path)
        t.join(60)
        assert not t.is_alive() and errs == []
        got = read_flows(spark, path).agg(F.sum("bytes")).collect()[0][0]
        assert got == 2 * base  # nothing lost on either side

    def test_retention_drop_guarded(self, spark, fact, tmp_path):
        import time

        from kubenetmon_spark import fs as _fsm
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import _intent_dir

        path = str(tmp_path / "t6")
        write_flows(fact, path)
        fs = _fsm.get_fs(path)
        d = _intent_dir(path, self.PART)
        fs.mkdirs(d)
        fs.write_json_atomic(_join(d, "x.json"), {"created_unix": time.time()})
        with pytest.raises(TimeoutError, match="append intents"):
            from kubenetmon_spark.sink import partition_mutation_guard

            with partition_mutation_guard(path, self.PART, drain_timeout_s=0.5):
                pass  # pragma: no cover
        fs.remove_file(_join(d, "x.json"))
        dropped = apply_retention(path, keep_days=90, today=date(2024, 9, 1))
        assert dropped == ["date=2024-03-01"]


class TestLifecycleGuardsExtended:
    """Round-6: the discover-lock-reread protocol extended from
    compact/retention to EVERY partition-rewriting lifecycle op —
    mutate, delete_where, deduplicate, rollup-TTL, clear-column,
    detach/attach/move/replace, backfill. Same invariant as
    TestMutationGuard: an append either folds into the mutation's
    input (it landed before the lock, and the fresh re-read under the
    lock picks it up) or lands after the overwrite — never silently
    lost — and an in-flight append makes the mutator fail LOUD."""

    PART = "date=2024-03-01"

    def _stale_intent(self, path):
        import time

        from kubenetmon_spark import fs as _fsm
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import _intent_dir

        fs = _fsm.get_fs(path)
        d = _intent_dir(path, self.PART)
        fs.mkdirs(d)
        p = _join(d, "stale.json")
        fs.write_json_atomic(p, {"created_unix": time.time()})
        return fs, p

    def test_mutate_refuses_inflight_append(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import mutate

        path = str(tmp_path / "m")
        write_flows(fact, path)
        fs, intent = self._stale_intent(path)
        with pytest.raises(TimeoutError, match="append intents"):
            mutate(
                spark, path, "direction = 'out'", {"bytes": "bytes * 2"},
                drain_timeout_s=0.5,
            )
        # refused BEFORE any rewrite: table bytes untouched
        assert read_flows(spark, path).count() == 24
        fs.remove_file(intent)
        assert mutate(
            spark, path, "direction = 'out'", {"bytes": "bytes * 2"}
        ) == [self.PART]

    def test_delete_where_refuses_inflight_append(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import delete_where

        path = str(tmp_path / "d")
        write_flows(fact, path)
        fs, intent = self._stale_intent(path)
        with pytest.raises(TimeoutError, match="append intents"):
            delete_where(spark, path, "direction = 'out'", drain_timeout_s=0.5)
        assert read_flows(spark, path).count() == 24
        fs.remove_file(intent)
        delete_where(spark, path, "direction = 'out'")
        assert read_flows(spark, path).filter("direction = 'out'").count() == 0

    def test_deduplicate_refuses_inflight_append(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import deduplicate

        path = str(tmp_path / "dd")
        write_flows(fact, path)
        write_flows(fact, path)  # full-row duplicates across batches
        fs, intent = self._stale_intent(path)
        with pytest.raises(TimeoutError, match="append intents"):
            deduplicate(spark, path, drain_timeout_s=0.5)
        assert read_flows(spark, path).count() == 48
        fs.remove_file(intent)
        deduplicate(spark, path)
        assert read_flows(spark, path).count() == 24

    def test_rollup_ttl_refuses_inflight_append(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "r")
        write_flows(fact, path)
        fs, intent = self._stale_intent(path)
        with pytest.raises(TimeoutError, match="append intents"):
            apply_rollup_ttl(
                spark, path, 2, today=date(2024, 3, 10), drain_timeout_s=0.5
            )
        fs.remove_file(intent)
        assert apply_rollup_ttl(spark, path, 2, today=date(2024, 3, 10)) == [
            self.PART
        ]

    def test_detach_refuses_inflight_append(self, spark, fact, tmp_path):
        import functools

        import kubenetmon_spark.sink as sink_mod
        from kubenetmon_spark.sink import detach_partition

        path = str(tmp_path / "det")
        write_flows(fact, path)
        fs, intent = self._stale_intent(path)
        real = sink_mod.partition_mutation_guard
        short = functools.partial(real, drain_timeout_s=0.5)
        try:
            sink_mod.partition_mutation_guard = short
            with pytest.raises(TimeoutError, match="append intents"):
                detach_partition(path, "2024-03-01")
        finally:
            sink_mod.partition_mutation_guard = real
        # nothing half-moved: partition still live, still queryable
        assert read_flows(spark, path).count() == 24
        fs.remove_file(intent)
        detach_partition(path, "2024-03-01")
        from kubenetmon_spark.sink import detached_partitions

        assert detached_partitions(path) == ["2024-03-01"]

    def test_mutate_folds_append_landing_before_lock(
        self, spark, fact, tmp_path, monkeypatch
    ):
        """The discovery->lock window, forced: a batch lands AFTER the
        mutation discovered its affected partitions but BEFORE it took
        the locks. Pre-guard, the overwrite deleted that batch's files;
        now the fresh re-read under the lock folds it in — the late
        batch is mutated WITH the rest."""
        from contextlib import contextmanager

        import kubenetmon_spark.sink as sink_mod
        from kubenetmon_spark.sink import mutate

        path = str(tmp_path / "fold")
        write_flows(fact, path)
        base_out = (
            fact.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
        )
        real = sink_mod.partitions_mutation_guard

        @contextmanager
        def inject_then_guard(p, parts, **kw):
            write_flows(fact, path)  # the racing batch: lands pre-lock
            with real(p, parts, **kw) as f:
                yield f

        monkeypatch.setattr(sink_mod, "partitions_mutation_guard", inject_then_guard)
        mutate(spark, path, "direction = 'out'", {"bytes": "bytes * 2"})
        after = read_flows(spark, path)
        assert after.count() == 48  # both batches present
        got = after.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
        assert got == 2 * (2 * base_out)  # BOTH batches mutated

    def test_forced_mid_mutate_append_serializes(
        self, spark, fact, tmp_path, monkeypatch
    ):
        """An append arriving while mutate holds the lock waits it out
        and lands AFTER the overwrite (unmutated) — or, if it wins the
        lock race, folds in (mutated). Either way: no lost rows, no
        error. The slowed checkpoint holds mutate's window open."""
        import threading
        import time

        from pyspark.sql import DataFrame

        from kubenetmon_spark.sink import append_intent, mutate

        path = str(tmp_path / "ser")
        write_flows(fact, path)
        base_out = (
            fact.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
        )
        real_ckpt = DataFrame.localCheckpoint

        def slow_ckpt(self_df, *a, **kw):
            out = real_ckpt(self_df, *a, **kw)
            time.sleep(1.5)  # hold the read-to-overwrite window open
            return out

        monkeypatch.setattr(DataFrame, "localCheckpoint", slow_ckpt)
        errs: list[Exception] = []

        def run_mutate():
            try:
                mutate(spark, path, "direction = 'out'", {"bytes": "bytes * 2"})
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        t = threading.Thread(target=run_mutate)
        t.start()
        time.sleep(0.6)  # mutate should now hold the lock, mid-checkpoint
        with append_intent(path, [self.PART], wait_s=30.0):
            write_flows(fact, path)
        t.join(60)
        assert not t.is_alive() and errs == []
        after = read_flows(spark, path)
        assert after.count() == 48  # nothing lost on either side
        got = after.filter("direction = 'out'").agg(F.sum("bytes")).collect()[0][0]
        # append landed after the overwrite (unmutated): 2x + 1x;
        # or folded in before the lock (both mutated): 2x + 2x
        assert got in (3 * base_out, 4 * base_out)

    def test_backfill_refuses_inflight_append(self, spark, fact, tmp_path):
        import functools

        import kubenetmon_spark.sink as sink_mod
        from kubenetmon_spark.backfill import backfill_dates

        path = str(tmp_path / "bf")
        write_flows(fact, path)
        fs, intent = self._stale_intent(path)
        real = sink_mod.partitions_mutation_guard
        short = functools.partial(real, drain_timeout_s=0.5)
        prefixes = prefixes_df(spark)
        try:
            sink_mod.partitions_mutation_guard = short
            with pytest.raises(TimeoutError, match="append intents"):
                backfill_dates(
                    spark,
                    observations_df(spark),
                    path,
                    ["2024-03-01"],
                    pods_df(spark),
                    nodes_df(spark),
                    prefixes,
                    CFG,
                )
        finally:
            sink_mod.partitions_mutation_guard = real
        assert read_flows(spark, path).count() == 24  # untouched
        fs.remove_file(intent)
        n = backfill_dates(
            spark,
            observations_df(spark),
            path,
            ["2024-03-01"],
            pods_df(spark),
            nodes_df(spark),
            prefixes,
            CFG,
        )
        assert n > 0
        # backfill is the one true overwrite: the doubled rows are gone
        assert read_flows(spark, path).count() == n


class TestCrossGranularityMutatorExclusion:
    """Round-6: a table-wide mutation (compact with no target) and a
    per-partition one hold DIFFERENT lock files — without the defer
    protocol they would both proceed and one rewrite would silently
    lose the other. Per-partition mutators defer to the table-wide
    lock; the table-wide mutator waits for held partition locks."""

    PART = "date=2024-03-01"

    def test_table_wide_blocks_partition_mutator(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import partition_mutation_guard

        path = str(tmp_path / "x1")
        write_flows(fact, path)
        with partition_mutation_guard(path, None):
            with pytest.raises(TimeoutError, match="table-wide"):
                with partition_mutation_guard(
                    path, self.PART, lock_timeout_s=0.6
                ):
                    pass  # pragma: no cover
        # table-wide released -> the per-partition mutator proceeds
        with partition_mutation_guard(path, self.PART):
            pass

    def test_partition_mutator_blocks_table_wide(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import partition_mutation_guard

        path = str(tmp_path / "x2")
        write_flows(fact, path)
        with partition_mutation_guard(path, self.PART):
            with pytest.raises(
                TimeoutError, match="per-partition lifecycle locks"
            ):
                with partition_mutation_guard(
                    path, None, drain_timeout_s=0.6
                ):
                    pass  # pragma: no cover
        with partition_mutation_guard(path, None):
            pass

    def test_no_stale_lock_litter_after_defer(self, spark, fact, tmp_path):
        """The deferring per-partition mutator must retract its stake
        each retry — a leaked partition lock would wedge the table-wide
        mutator it deferred to."""
        from kubenetmon_spark import fs as _fsm
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import (
            _LIFECYCLE_DIR,
            partition_mutation_guard,
        )

        path = str(tmp_path / "x3")
        write_flows(fact, path)
        fs = _fsm.get_fs(path)
        locks_dir = _join(path, _LIFECYCLE_DIR, "locks")
        with partition_mutation_guard(path, None):
            with pytest.raises(TimeoutError):
                with partition_mutation_guard(
                    path, self.PART, lock_timeout_s=0.6
                ):
                    pass  # pragma: no cover
            names = [
                n for n in fs.list_names(locks_dir) if n.endswith(".lock")
            ]
            assert names == ["_table.lock"]  # only the table-wide stake
        assert [
            n for n in fs.list_names(locks_dir) if n.endswith(".lock")
        ] == []

    def test_compact_all_vs_compact_partition_serialize(
        self, spark, fact, tmp_path
    ):
        """End-to-end: a whole-table compact and a targeted compact
        racing in threads serialize (or one fails loud) — the summed
        table is exactly the one-batch fold either way."""
        import threading

        path = str(tmp_path / "x4")
        write_flows(fact, path)
        write_flows(fact, path)
        want = summing_aggregate(fact).count()
        errs: list[Exception] = []

        def run(target):
            try:
                compact(spark, path, target_date=target)
            except TimeoutError:
                pass  # loud loser is an allowed outcome
            except Exception as exc:  # pragma: no cover
                errs.append(exc)

        t1 = threading.Thread(target=run, args=(None,))
        t2 = threading.Thread(target=run, args=("2024-03-01",))
        t1.start(); t2.start(); t1.join(60); t2.join(60)
        assert not t1.is_alive() and not t2.is_alive() and errs == []
        assert read_flows(spark, path).count() == want
        got = read_flows(spark, path).agg(F.sum("bytes")).collect()[0][0]
        assert got == 2 * fact.agg(F.sum("bytes")).collect()[0][0]


class TestRollupTtlCoarseBuckets:
    """Weekly (coarser-than-day) rollup moves rows to the bucket's
    FIRST day — a partition that may not exist yet and is outside the
    aged source set. Round-6's guard must lock those targets too, and
    the source partitions the dynamic overwrite didn't rewrite must be
    dropped (the pre-existing contract, now exercised under locks)."""

    def test_weekly_rollup_moves_and_drops_sources(self, spark, fact, tmp_path):
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "weekly")
        # spread the fixture across three consecutive days
        for shift in (0, 1, 2):
            write_flows(fact.withColumn("date", F.date_add("date", shift))
                        .withColumn("intervalStartTime",
                                    F.col("intervalStartTime") + F.expr(f"INTERVAL {shift} DAYS")), path)
        before = read_flows(spark, path)
        bytes_before = before.agg(F.sum("bytes")).collect()[0][0]
        rewritten = apply_rollup_ttl(
            spark, path, age_days=7, granularity_seconds=7 * 86400,
            today=date(2024, 3, 20),
        )
        assert sorted(rewritten) == [
            "date=2024-03-01", "date=2024-03-02", "date=2024-03-03",
        ]
        after = read_flows(spark, path)
        # all three days collapse into one weekly bucket on one date
        dates = sorted(str(r.date) for r in after.select("date").distinct().collect())
        assert len(dates) == 1
        assert after.agg(F.sum("bytes")).collect()[0][0] == bytes_before
        assert (
            after.select("intervalSeconds").distinct().collect()[0][0]
            == 7 * 86400
        )
        # source partitions whose rows moved away are gone from disk
        from kubenetmon_spark import fs as _fsm

        live = [
            n
            for n in _fsm.get_fs(path).list_names(path)
            if n.startswith("date=")
        ]
        assert live == [f"date={dates[0]}"]
        # and no lock litter remains from the extra target acquisition
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import _LIFECYCLE_DIR

        locks = _join(path, _LIFECYCLE_DIR, "locks")
        fs = _fsm.get_fs(path)
        assert [
            n for n in (fs.list_names(locks) if fs.is_dir(locks) else [])
            if n.endswith(".lock")
        ] == []


class TestReviewPassFixes:
    """Round-6 review findings, pinned: delete_where NULL-predicate
    rows survive (ClickHouse semantics), rollup-TTL's out-of-source
    bucket target is exercised and its mid-run-append race refuses
    loud, and replace_partition snapshots its source under the guard."""

    def test_delete_where_keeps_null_evaluating_rows(
        self, spark, fact, tmp_path
    ):
        from kubenetmon_spark.sink import delete_where, mutate

        path = str(tmp_path / "nulldel")
        write_flows(fact, path)
        # manufacture NULL-evaluating rows: NULL out remoteApp on the
        # localPort=5001 pair
        mutate(spark, path, "localPort = 5001", {"remoteApp": "NULL"})
        before = read_flows(spark, path)
        n_null = before.filter("remoteApp IS NULL").count()
        assert n_null == 2  # in + out rows of the scenario
        # TRUE rows deleted, FALSE ('') kept, NULL kept — CH semantics
        keep_expected = before.filter(
            "remoteApp = '' OR remoteApp IS NULL"
        ).count()
        delete_where(spark, path, "remoteApp <> ''")
        after = read_flows(spark, path)
        assert after.count() == keep_expected
        assert after.filter("remoteApp IS NULL").count() == n_null

    def test_rollup_three_day_bucket_targets_outside_sources(
        self, spark, fact, tmp_path
    ):
        """2024-03-01 is an exact epoch-week boundary, so the weekly
        test's bucket start coincided with a source date; 3-day buckets
        (floor to 2024-02-29) force the bucket-start partition OUTSIDE
        the aged source set — the `extra` lock path for real."""
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "r3d")
        write_flows(fact, path)
        bytes_before = read_flows(spark, path).agg(F.sum("bytes")).collect()[0][0]
        rewritten = apply_rollup_ttl(
            spark, path, age_days=7, granularity_seconds=3 * 86400,
            today=date(2024, 3, 20),
        )
        assert rewritten == ["date=2024-03-01"]
        after = read_flows(spark, path)
        dates = [str(r.date) for r in after.select("date").distinct().collect()]
        assert dates == ["2024-02-29"]  # moved to the bucket's first day
        assert after.agg(F.sum("bytes")).collect()[0][0] == bytes_before
        from kubenetmon_spark import fs as _fsm

        live = sorted(
            n
            for n in _fsm.get_fs(path).list_names(path)
            if n.startswith("date=")
        )
        assert live == ["date=2024-02-29"]  # source dropped

    def test_rollup_refuses_when_target_gains_rows_mid_run(
        self, spark, fact, tmp_path, monkeypatch
    ):
        """A backfill landing in the (previously absent) bucket-target
        partition between discovery and the extra lock must abort the
        rollup loudly — the dynamic overwrite would have deleted it."""
        import kubenetmon_spark.sink as sink_mod
        from kubenetmon_spark.sink import apply_rollup_ttl

        path = str(tmp_path / "r3race")
        write_flows(fact, path)
        target_dir = str(tmp_path / "r3race" / "date=2024-02-29")
        real = sink_mod.summing_aggregate

        def inject_then_aggregate(df):
            # runs inside the source locks, before the extra target
            # lock: the racing backfill's files appear now
            spark.range(1).write.mode("overwrite").parquet(target_dir)
            return real(df)

        monkeypatch.setattr(sink_mod, "summing_aggregate", inject_then_aggregate)
        n_before = read_flows(spark, path).count()
        with pytest.raises(RuntimeError, match="gained rows"):
            apply_rollup_ttl(
                spark, path, age_days=7, granularity_seconds=3 * 86400,
                today=date(2024, 3, 20),
            )
        # nothing was rewritten: sources intact (the injected partition
        # itself now shows up in a table read — exclude it), injected
        # files intact
        assert (
            read_flows(spark, path)
            .filter(F.col("date") != F.lit("2024-02-29").cast("date"))
            .count()
            == n_before
        )
        assert spark.read.parquet(target_dir).count() == 1
        # and no lock litter after the loud abort
        from kubenetmon_spark import fs as _fsm
        from kubenetmon_spark.fs import join as _join
        from kubenetmon_spark.sink import _LIFECYCLE_DIR

        locks = _join(path, _LIFECYCLE_DIR, "locks")
        fs = _fsm.get_fs(path)
        assert [
            n for n in (fs.list_names(locks) if fs.is_dir(locks) else [])
            if n.endswith(".lock")
        ] == []

    def test_replace_partition_source_append_refused_mid_copy(
        self, spark, fact, tmp_path
    ):
        """The copy phase holds the SOURCE partition's guard: an append
        intent into the source table refuses while the copy runs (no
        torn snapshot can publish)."""
        from kubenetmon_spark.sink import append_intent, replace_partition

        src = str(tmp_path / "src_t")
        dst = str(tmp_path / "dst_t")
        write_flows(fact, src)
        write_flows(fact, dst)
        import threading
        import time as _t

        from kubenetmon_spark import fs as _fsm

        entered = threading.Event()
        orig_copy = _fsm.get_fs(src).__class__.copy_tree
        results = []

        def slow_copy(self_fs, a, b):
            entered.set()
            _t.sleep(1.2)
            return orig_copy(self_fs, a, b)

        cls = _fsm.get_fs(src).__class__
        cls.copy_tree = slow_copy
        try:
            t = threading.Thread(
                target=lambda: replace_partition(dst, src, "2024-03-01")
            )
            t.start()
            assert entered.wait(10)
            with pytest.raises(TimeoutError, match="lifecycle lock"):
                with append_intent(src, ["date=2024-03-01"], wait_s=0.5):
                    pass  # pragma: no cover
            t.join(60)
            assert not t.is_alive()
        finally:
            cls.copy_tree = orig_copy
        # swap completed; a post-swap append into src proceeds
        with append_intent(src, ["date=2024-03-01"], wait_s=5.0):
            write_flows(fact, src)
        assert read_flows(spark, src).count() == 48


def test_mutate_delete_on_keyless_table(spark, tmp_path):
    """mutate/delete_where work on ANY date-partitioned table — one with
    none of the flow sort-key columns must not crash on an empty
    sortWithinPartitions (deduplicate and clear-column already
    guarded; mutate/delete did not)."""
    from kubenetmon_spark.sink import delete_where, mutate

    path = str(tmp_path / "keyless")
    spark.createDataFrame(
        [(date(2024, 3, 1), "a", 1), (date(2024, 3, 1), "b", None)],
        "date date, name string, v int",
    ).write.partitionBy("date").parquet(path)
    assert mutate(spark, path, "name = 'a'", {"v": "v * 10"}) == [
        "date=2024-03-01"
    ]
    got = {r.name: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10, "b": None}
    # v IS NULL for 'b': predicate "v > 5" is TRUE for a, NULL for b
    assert delete_where(spark, path, "v > 5") == ["date=2024-03-01"]
    assert [r.name for r in spark.read.parquet(path).collect()] == ["b"]


class TestGuardFaultAndStaging:
    """Round-7 advisor fixes: (1) an FS error during the guard's
    post-acquire table-lock probe must release the just-created .lock
    file instead of wedging every future mutator; (2) replace_partition
    stages under a per-invocation unique dir so two concurrent replaces
    into the same destination partition cannot interleave on a shared
    tmp path, and orphaned staging is cleaned on failure."""

    PART = "date=2024-03-01"

    def test_fs_error_during_defer_probe_releases_lock(
        self, spark, fact, tmp_path, monkeypatch
    ):
        from kubenetmon_spark.fs import LocalFS
        from kubenetmon_spark.sink import partition_mutation_guard

        path = str(tmp_path / "t")
        write_flows(fact, path)
        orig = LocalFS.exists

        def boom(self, p):
            if p.endswith("_table.lock"):
                raise OSError("injected probe failure")
            return orig(self, p)

        monkeypatch.setattr(LocalFS, "exists", boom)
        with pytest.raises(OSError, match="injected probe failure"):
            with partition_mutation_guard(path, self.PART):
                pass  # pragma: no cover - must not be reached
        monkeypatch.undo()
        # the failed acquisition must NOT leak its .lock: a fresh
        # mutator acquires within a short timeout instead of timing out
        with partition_mutation_guard(path, self.PART, lock_timeout_s=2.0):
            pass

    def test_replace_partition_staging_cleaned_on_success(
        self, spark, fact, tmp_path
    ):
        import os

        from kubenetmon_spark.sink import replace_partition

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        write_flows(fact, src)
        write_flows(fact, dst)
        write_flows(fact, dst)  # dst differs from src (2x rows)
        replace_partition(dst, src, "2024-03-01")
        assert read_flows(spark, dst).count() == read_flows(spark, src).count()
        assert [n for n in os.listdir(dst) if n.startswith("_replace-")] == []
        assert [n for n in os.listdir(dst) if n.startswith("_old-")] == []

    def test_replace_partition_staging_cleaned_on_failure(
        self, spark, fact, tmp_path, monkeypatch
    ):
        import os

        from kubenetmon_spark.fs import LocalFS
        from kubenetmon_spark.sink import replace_partition

        src, dst = str(tmp_path / "src2"), str(tmp_path / "dst2")
        write_flows(fact, src)
        write_flows(fact, dst)

        def boom(self, a, b):
            raise OSError("injected rename failure")

        monkeypatch.setattr(LocalFS, "rename_no_replace", boom)
        with pytest.raises(OSError, match="injected rename failure"):
            replace_partition(dst, src, "2024-03-01")
        monkeypatch.undo()
        # staging orphan removed; destination data intact
        assert [n for n in os.listdir(dst) if n.startswith("_replace-")] == []
        assert read_flows(spark, dst).count() == 24
