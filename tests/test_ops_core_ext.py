"""Unit tests for the core-surface extension operators: sessionization,
time-series densification, connected components, deterministic sampling."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.graph import connected_components, duplicate_clusters
from kubenetmon_spark.operators.sampling import deterministic_sample
from kubenetmon_spark.operators.sessions import session_stats, sessionize
from kubenetmon_spark.operators.timeseries import densify


def _ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        # user 1: events at 10:00, 10:10, 11:00 (gap 50 min > 30 min) -> 2 sessions
        df = spark.createDataFrame(
            [(1, 1, _ts(10, 0)), (1, 2, _ts(10, 10)), (1, 3, _ts(11, 0))],
            "user_id long, event_id long, ts timestamp",
        )
        out = sessionize(df, ["user_id"], gap_seconds=1800, order_cols=["event_id"])
        got = {r.event_id: r.session_id for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 2}

    def test_exact_gap_stays_in_session(self, spark):
        # gap of exactly gap_seconds does NOT split (strict > comparison)
        df = spark.createDataFrame(
            [(1, 1, _ts(10, 0)), (1, 2, _ts(10, 30))],
            "user_id long, event_id long, ts timestamp",
        )
        out = sessionize(df, ["user_id"], gap_seconds=1800, order_cols=["event_id"])
        assert {r.session_id for r in out.collect()} == {1}

    def test_keys_are_independent(self, spark):
        df = spark.createDataFrame(
            [(1, 1, _ts(10)), (2, 2, _ts(10)), (2, 3, _ts(12))],
            "user_id long, event_id long, ts timestamp",
        )
        stats = session_stats(df, ["user_id"], gap_seconds=1800, order_cols=["event_id"])
        per_user = {(r.user_id, r.session_id): r.n_events for r in stats.collect()}
        assert per_user == {(1, 1): 1, (2, 1): 1, (2, 2): 1}

    def test_duration(self, spark):
        df = spark.createDataFrame(
            [(1, 1, _ts(10, 0)), (1, 2, _ts(10, 20, 30))],
            "user_id long, event_id long, ts timestamp",
        )
        stats = session_stats(df, ["user_id"], gap_seconds=1800, order_cols=["event_id"])
        assert stats.collect()[0].duration_s == 20 * 60 + 30


class TestDensify:
    def test_fills_missing_buckets_with_zero(self, spark):
        observed = spark.createDataFrame(
            [("a", _ts(10), 5), ("a", _ts(13), 2)],
            "k string, bucket timestamp, n long",
        )
        keys = spark.createDataFrame([("a",), ("b",)], "k string")
        bounds = spark.createDataFrame(
            [(_ts(10), _ts(13))], "start timestamp, end timestamp"
        )
        out = densify(observed, keys, bounds, "bucket", step="1 hour")
        rows = {(r.k, r.bucket.hour): r.n for r in out.collect()}
        # full 2-key x 4-bucket grid, zeros where unobserved
        assert len(rows) == 8
        assert rows[("a", 10)] == 5 and rows[("a", 13)] == 2
        assert rows[("a", 11)] == 0 and rows[("b", 12)] == 0


class TestConnectedComponents:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src long, dst long"
        )
        comp = {r.node: r.comp for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_chain_converges(self, spark):
        # a path graph needs diameter rounds — worst case for label propagation
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "src long, dst long"
        )
        comp = {r.node: r.comp for r in connected_components(edges).collect()}
        assert set(comp.values()) == {0} and len(comp) == 9

    def test_duplicate_clusters_column_names(self, spark):
        pairs = spark.createDataFrame([(5, 9)], "id_1 long, id_2 long")
        out = duplicate_clusters(pairs)
        assert set(out.columns) == {"node", "cluster_rep"}
        assert {(r.node, r.cluster_rep) for r in out.collect()} == {(5, 5), (9, 5)}


class TestDeterministicSample:
    def test_reproducible_and_partition_independent(self, spark):
        df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
        a = sorted(r.id for r in deterministic_sample(df, "id", 2500).collect())
        b = sorted(
            r.id
            for r in deterministic_sample(df.repartition(13), "id", 2500).collect()
        )
        assert a == b and len(a) > 0

    def test_rate_close_to_requested(self, spark):
        df = spark.createDataFrame([(i,) for i in range(4000)], "id long")
        n = deterministic_sample(df, "id", 2500).count()
        assert 0.2 < n / 4000 < 0.3

    def test_no_shuffle_in_plan(self, spark):
        df = spark.createDataFrame([(i,) for i in range(100)], "id long")
        plan = deterministic_sample(df, "id", 2500)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestStratifiedSampleExact:
    def _df(self, spark):
        # skewed strata: s0 has 400 rows, s1 has 3, s2 has 1
        rows = [(i, "s0" if i < 400 else ("s1" if i < 403 else "s2"), i * 2)
                for i in range(404)]
        return spark.createDataFrame(rows, "id long, stratum string, v long")

    def test_exact_quota_and_small_strata_survive(self, spark):
        from kubenetmon_spark.operators.sampling import stratified_sample_exact

        out = stratified_sample_exact(self._df(spark), ["stratum"], 5, "id")
        by = {}
        for r in out.collect():
            by.setdefault(r.stratum, []).append(r.id)
        assert len(by["s0"]) == 5          # quota capped
        assert len(by["s1"]) == 3          # whole small stratum kept
        assert len(by["s2"]) == 1

    def test_bounded_equals_unbounded_under_repartition(self, spark):
        from kubenetmon_spark.operators.sampling import stratified_sample_exact

        df = self._df(spark)
        key = lambda r: (r.stratum, r.id, r.v)  # noqa: E731
        want = sorted(
            map(key, stratified_sample_exact(df, ["stratum"], 5, "id",
                                             bounded=False).collect())
        )
        for parts in (1, 7):
            got = sorted(
                map(key, stratified_sample_exact(
                    df.repartition(parts), ["stratum"], 5, "id").collect())
            )
            assert got == want  # fold is partitioning-invariant + exact

    def test_null_id_fails_loudly(self, spark):
        # Regression: a NULL id hashes to NULL, which sorts FIRST in
        # Spark's window but LAST in the bounded fold's pandas sort —
        # bounded/unbounded silently disagreed on which rows win.
        import pytest

        from kubenetmon_spark.operators.sampling import stratified_sample_exact

        df = spark.createDataFrame(
            [(1, "s"), (None, "s"), (2, "s")], "id long, stratum string"
        )
        for bounded in (True, False):
            with pytest.raises(Exception, match="NULL id"):
                stratified_sample_exact(
                    df, ["stratum"], 2, "id", bounded=bounded
                ).collect()


class TestRedaction:
    def test_counts_and_replacement(self, spark):
        from kubenetmon_spark.operators.text import with_redacted_text

        df = spark.createDataFrame(
            [(1, "mail a@b.com or c@d.org call 555-123-4567"), (2, "clean")],
            "id long, text string",
        )
        out = {r.id: r for r in with_redacted_text(df).collect()}
        assert out[1].n_email == 2 and out[1].n_phone == 1 and out[1].n_ssn == 0
        assert out[1].redacted == "mail <EMAIL> or <EMAIL> call <PHONE>"
        assert out[2].redacted == "clean" and out[2].n_email == 0

    def test_ssn_not_eaten_by_phone(self, spark):
        from kubenetmon_spark.operators.text import with_redacted_text

        df = spark.createDataFrame([(1, "id 123-45-6789")], "id long, text string")
        r = with_redacted_text(df).collect()[0]
        assert r.n_phone == 0 and r.n_ssn == 1 and r.redacted == "id <SSN>"

    def test_no_shuffle(self, spark):
        from kubenetmon_spark.operators.text import with_redacted_text

        df = spark.createDataFrame([(1, "x")], "id long, text string")
        plan = with_redacted_text(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestQuantization:
    def test_quantize_values(self, spark):
        from kubenetmon_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
        # max|x|=1.0 -> scale 1/127; q = floor(x*127 + 0.5)
        assert out[1].q_embedding == [127, -63, 32]
        assert out[2].q_embedding == [0, 0, 0] and out[2].q_scale == 0.0

    def test_reconstruction_error_bounded(self, spark):
        from kubenetmon_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(i, [((i * 13 + j * 7) % 200 - 100) / 100.0 for j in range(16)])
             for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        for r in quantize_embeddings(df).collect():
            for x, qi in zip(r.embedding, r.q_embedding):
                assert abs(x - qi * r.q_scale) <= r.q_scale / 2 + 1e-12

    def test_topk_self_similarity(self, spark):
        from kubenetmon_spark.operators.similarity import quantized_topk

        # period 23 > corpus size, so no accidental duplicates of vec 0
        rows = [(i, [float((i * 7 + j * 3) % 23 - 11) for j in range(8)]) for i in range(20)]
        rows[17] = (17, [x * 3.0 for x in rows[0][1]])  # scaled copy of the query
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        top = quantized_topk(df, query_id=0, k=3).collect()
        # scaled copy quantizes to the identical int vector -> top score
        assert top[0].vec_id == 17


class TestSkewTools:
    def test_salted_join_equals_plain_join(self, spark):
        from kubenetmon_spark.operators.skew import salted_join

        # 90% of large-side rows share one hot key
        large = spark.createDataFrame(
            [(1 if i % 10 else i, i) for i in range(500)], "k long, v long"
        )
        small = spark.createDataFrame([(i, f"d{i}") for i in range(60)], "k long, d string")
        a = sorted((r.k, r.v, r.d) for r in salted_join(large, small, ["k"], salt_n=4).collect())
        b = sorted((r.k, r.v, r.d) for r in large.join(small, "k").collect())
        assert a == b

    def test_salted_sum_equals_plain_sum(self, spark):
        from kubenetmon_spark.operators.skew import salted_sum

        df = spark.createDataFrame(
            [("hot" if i % 20 else f"k{i}", i) for i in range(1000)], "k string, v long"
        )
        a = {r.k: r.v for r in salted_sum(df, ["k"], ["v"], salt_n=8).collect()}
        b = {r.k: r.v for r in df.groupBy("k").agg(F.sum("v").alias("v")).collect()}
        assert a == b

    def test_salted_join_refuses_small_side_outer(self, spark):
        # Regression: right/full outer would emit salt_n duplicates of
        # every unmatched small-side row (the small side is replicated).
        import pytest

        from kubenetmon_spark.operators.skew import salted_join

        large = spark.createDataFrame([(1, 1)], "k long, v long")
        small = spark.createDataFrame([(2, "d")], "k long, d string")
        for how in ("right", "right_outer", "full", "full_outer", "outer"):
            with pytest.raises(ValueError, match="unmatched"):
                salted_join(large, small, ["k"], salt_n=4, how=how)
        # left outer is fine: unmatched LARGE rows are not replicated
        got = salted_join(large, small, ["k"], salt_n=4, how="left").collect()
        assert len(got) == 1 and got[0].d is None


class TestSCD2:
    def test_intervals_from_snapshots(self, spark):
        from kubenetmon_spark.operators.scd import scd2_from_snapshots

        snaps = spark.createDataFrame(
            [
                ("pod-a", "app1", _ts(1)),
                ("pod-a", "app1", _ts(2)),   # unchanged -> same interval
                ("pod-a", "app2", _ts(3)),   # changed
                ("pod-a", "app1", _ts(4)),   # changed BACK -> new interval, not merged
                ("pod-b", "appX", _ts(2)),
            ],
            "pod string, app string, snapshot_ts timestamp",
        )
        out = scd2_from_snapshots(snaps, ["pod"], ["app"])
        ivals = sorted(
            (r.pod, r.app, r.valid_from.hour, r.valid_to.year)
            for r in out.collect()
        )
        assert ivals == [
            ("pod-a", "app1", 1, 2024),   # closed at ts(3)
            ("pod-a", "app1", 4, 2200),   # reopened, current
            ("pod-a", "app2", 3, 2024),
            ("pod-b", "appX", 2, 2200),
        ]

    def test_as_of_lookup(self, spark):
        from kubenetmon_spark.operators.scd import as_of_dimension, scd2_from_snapshots

        snaps = spark.createDataFrame(
            [("pod-a", "app1", _ts(1)), ("pod-a", "app2", _ts(5))],
            "pod string, app string, snapshot_ts timestamp",
        )
        scd2 = scd2_from_snapshots(snaps, ["pod"], ["app"])
        at3 = {r.pod: r.app for r in as_of_dimension(scd2, _ts(3)).collect()}
        at6 = {r.pod: r.app for r in as_of_dimension(scd2, _ts(6)).collect()}
        assert at3 == {"pod-a": "app1"} and at6 == {"pod-a": "app2"}


def test_approx_sketches_error_bounded(spark):
    """q56 is now a hash-checkable CONTRACT (see its gate registration):
    it emits the exact counts plus booleans asserting Spark's OWN
    sketches (HLL++ count-distinct, approx median) land inside the
    accuracy band. Assert the exact columns against an independent
    recomputation and that every band boolean holds — a garbage sketch
    estimate flips a boolean and fails here exactly as it fails the
    DuckDB hash gate."""
    from kubenetmon_spark.gate import gate_queries
    from kubenetmon_spark.tables import load_table

    approx = {
        r.event_type: r
        for r in gate_queries()["q56_approx_sketches"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    exact = {
        r.event_type: r
        for r in load_table(spark, "/root/testdata/sf0.01", "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count("value").alias("n_vals"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        assert a.exact_users == e.exact_users
        assert a.n_vals == e.n_vals
        assert a.users_within_10pct, f"{et}: HLL estimate outside 10%+3 band"
        assert a.p50_within_rank_band, f"{et}: approx median outside 45-55% rank band"


class TestEmptyInputs:
    """Operators must survive 0-row inputs — a real micro-batch shape
    (an idle collection interval produces an empty batch)."""

    def test_empty_labeler_pipeline(self, spark, tmp_path):
        from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
        from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
        from kubenetmon_spark.operators.label import label_flows, split_rejected
        from kubenetmon_spark.sink import write_flows

        obs, pods, nodes, prefixes = build_flow_inputs(spark, "/root/testdata/sf0.001")
        empty = obs.filter(F.lit(False))
        accepted, dead = split_rejected(label_flows(empty, pods, nodes, prefixes, DEMO_CFG))
        flows = summing_aggregate(to_flow_rows(accepted))
        assert flows.count() == 0 and dead.count() == 0
        write_flows(flows, str(tmp_path / "flows"))  # empty write must not raise

    def test_empty_sessionize_and_components(self, spark):
        from kubenetmon_spark.operators.graph import connected_components
        from kubenetmon_spark.operators.sessions import session_stats

        ev = spark.createDataFrame([], "user_id long, event_id long, ts timestamp")
        assert session_stats(ev, ["user_id"], order_cols=["event_id"]).count() == 0
        edges = spark.createDataFrame([], "src long, dst long")
        assert connected_components(edges).count() == 0

    def test_empty_pair_dedup(self, spark):
        from kubenetmon_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert minhash_lsh_pairs(docs, "doc_id", "text").count() == 0
        assert jaccard_pairs(docs, "doc_id", "text").count() == 0

    def test_empty_round3_additions(self, spark):
        from kubenetmon_spark.operators.dedup import minhash_dedup_incremental
        from kubenetmon_spark.operators.sampling import stratified_sample_exact
        from kubenetmon_spark.operators.scd import scd2_apply_batch, scd2_from_snapshots
        from kubenetmon_spark.operators.timeseries import interpolate_linear

        snaps = spark.createDataFrame([], "k string, snapshot_ts timestamp, app string")
        scd2 = scd2_from_snapshots(snaps, ["k"], ["app"])
        assert scd2.count() == 0
        # empty batch applied to an empty (and a non-empty) history
        assert scd2_apply_batch(scd2, snaps, ["k"], ["app"]).count() == 0
        one = scd2_from_snapshots(
            spark.createDataFrame(
                [("k0", datetime(2024, 1, 1), "a")],
                "k string, snapshot_ts timestamp, app string",
            ),
            ["k"], ["app"],
        )
        assert scd2_apply_batch(one, snaps, ["k"], ["app"]).count() == 1

        docs = spark.createDataFrame([], "doc_id long, text string")
        surv, nb, ns = minhash_dedup_incremental(docs, None, None, "doc_id", "text")
        assert surv.count() == 0 and nb.count() == 0 and ns.count() == 0

        assert stratified_sample_exact(
            spark.createDataFrame([], "id long, s string"), ["s"], 3, "id"
        ).count() == 0
        assert interpolate_linear(
            spark.createDataFrame([], "k string, x long, y long"), ["k"], "x", "y"
        ).count() == 0

    def test_jaccard_scale_guard(self, spark):
        from kubenetmon_spark.operators.dedup import jaccard_pairs

        docs = spark.range(0, 30).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma delta "), F.col("id")).alias(
                "text"
            ),
        )
        # unbounded all-pairs above the doc limit: refused
        with pytest.raises(ValueError, match="unguarded limit"):
            jaccard_pairs(
                docs, "doc_id", "text", unguarded_doc_limit=10
            ).count()
        # max_df bounds the fan-out: allowed at any size
        assert (
            jaccard_pairs(
                docs, "doc_id", "text", max_df=5, unguarded_doc_limit=10
            ).count()
            >= 0
        )
        # explicit opt-in forces the quadratic plan
        n_unsafe = jaccard_pairs(
            docs,
            "doc_id",
            "text",
            threshold_bp=5000,
            unsafe_exact=True,
            unguarded_doc_limit=10,
        ).count()
        # all 30 docs share the 'alpha beta gamma'+'beta gamma delta'
        # shingles out of 4-5 each -> every pair is ~50% similar
        assert n_unsafe == 30 * 29 // 2

    def test_jaccard_max_df_drops_hot_shingles(self, spark):
        from kubenetmon_spark.operators.dedup import jaccard_pairs

        # 10 docs all sharing one ubiquitous shingle; with max_df=5 the
        # shared shingle is dropped, so no pair survives
        docs = spark.range(0, 10).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("common one two "), F.col("id")).alias("text"),
        )
        assert (
            jaccard_pairs(docs, "doc_id", "text", threshold_bp=1).count() > 0
        )
        assert (
            jaccard_pairs(
                docs, "doc_id", "text", threshold_bp=1, max_df=5
            ).count()
            == 0
        )

    def test_empty_quantize(self, spark):
        from kubenetmon_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert quantize_embeddings(df).count() == 0


class TestHeavyHitters:
    def test_matches_exact_topk_on_skewed_data(self, spark):
        from kubenetmon_spark.operators.sketch import heavy_hitters

        # zipf-ish: key i appears ~3000/i times
        rows = [(f"k{i}",) for i in range(1, 40) for _ in range(3000 // i)]
        df = spark.createDataFrame(rows, "key string").repartition(8)
        got = [(r.key, r.n) for r in heavy_hitters(df, "key", k=5, num_counters=64).collect()]
        exact = [
            (r.key, r.n)
            for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("key")).limit(5).collect()
        ]
        assert got == exact

    def test_mg_fold_eviction_bound(self):
        from kubenetmon_spark.operators.sketch import _fold_mg

        c: dict = {}
        c = _fold_mg(c, {"a": 100, "b": 3, "d": 2}, 2)
        assert len(c) <= 2 and "a" in c
        # undercount: a's stored count dropped by the eviction threshold
        assert c["a"] < 100


class TestExactMoments:
    def test_variance_derives_exactly(self, spark):
        from kubenetmon_spark.operators.agg import exact_moments
        from kubenetmon_spark.tables import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        rows = {r.event_type: r for r in exact_moments(ev, "value", ["event_type"]).collect()}
        vals = {}
        for r in ev.select("event_type", "value").collect():
            vals.setdefault(r.event_type, []).append(round(r.value, 2))
        import statistics

        for et, xs in vals.items():
            m = rows[et]
            assert m.n == len(xs)
            assert m.sum_e2 == round(sum(round(x * 100) for x in xs))
            mean = m.sum_e2 / (100 * m.n)
            assert mean == pytest.approx(statistics.fmean(xs), rel=1e-9)
            var = (m.n * m.sumsq_e4 - m.sum_e2 * m.sum_e2) / (10000 * m.n * m.n)
            assert var == pytest.approx(statistics.pvariance(xs), rel=1e-6)

    def test_histogram_counts_total(self, spark):
        from kubenetmon_spark.operators.agg import width_bucket_histogram
        from kubenetmon_spark.tables import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        h = width_bucket_histogram(ev, "value", ["event_type"], bucket_width_e2=2500)
        assert h.agg(F.sum("n")).collect()[0][0] == ev.count()
        for r in h.collect():
            assert r.bucket >= 0

    def test_histogram_floor_on_negatives(self, spark):
        # Regression: bucket was floor(double /); now pmod+div — must
        # still round toward -inf for negative values, not toward zero.
        from kubenetmon_spark.operators.agg import width_bucket_histogram

        df = spark.createDataFrame(
            [("g", -0.01), ("g", -25.00), ("g", -25.01), ("g", 0.0), ("g", 24.99)],
            "k string, value double",
        )
        got = {
            r.bucket: r.n
            for r in width_bucket_histogram(df, "value", ["k"], 2500).collect()
        }
        # buckets of 25.00: [-50, -25) -> -2, [-25, 0) -> -1, [0, 25) -> 0
        assert got == {-2: 1, -1: 2, 0: 2}

    def test_histogram_temp_column_collision(self, spark):
        # Regression: withColumn("_ve2", ...) silently replaced a caller's
        # pre-existing _ve2 column; the temp name must uniquify around it.
        from kubenetmon_spark.operators.agg import width_bucket_histogram

        df = spark.createDataFrame(
            [("g", 1.0, "keepme"), ("g", 26.0, "keepme")],
            "k string, value double, _ve2 string",
        )
        got = {
            r.bucket: r.n
            for r in width_bucket_histogram(df, "value", ["k"], 2500).collect()
        }
        assert got == {0: 1, 1: 1}
        # grouping by the caller's _ve2 must also work (not misgroup on
        # the internal value column)
        got2 = width_bucket_histogram(df, "value", ["_ve2"], 2500).collect()
        assert {(r._ve2, r.bucket, r.n) for r in got2} == {
            ("keepme", 0, 1),
            ("keepme", 1, 1),
        }

    def test_two_phase_count_distinct_ignores_nulls(self, spark):
        # NULL semantics must match groupBy(k).agg(countDistinct(v))
        # EXACTLY: NULL values never count as a distinct, but a key whose
        # values are ALL NULL still emits a row with 0 (a pre-filter would
        # silently lose that group — the drop-in-swap hazard).
        from kubenetmon_spark.operators.agg import two_phase_count_distinct

        df = spark.createDataFrame(
            [("a", 1), ("a", None), ("a", 2), ("b", None)],
            "k string, v int",
        )
        got = {
            r.k: r.n_distinct
            for r in two_phase_count_distinct(df, ["k"], "v").collect()
        }
        ref = {
            r.k: r.n
            for r in df.groupBy("k")
            .agg(F.count_distinct("v").alias("n"))
            .collect()
        }
        assert got == ref == {"a": 2, "b": 0}


class TestWeightedHeavyHitters:
    def test_matches_exact_on_skewed_weights(self, spark):
        from kubenetmon_spark.operators.sketch import heavy_hitters_weighted

        import random

        rng = random.Random(4)
        # one key holds most of the total weight, tail is flat
        rows = [("whale", 10_000)] * 50 + [
            (f"k{rng.randrange(200)}", rng.randrange(1, 50)) for _ in range(2000)
        ]
        df = spark.createDataFrame(rows, "k string, w long")
        got = [
            (r.k, r.total_weight)
            for r in heavy_hitters_weighted(df, "k", "w", k=3).collect()
        ]
        exact: dict = {}
        for k, w in rows:
            exact[k] = exact.get(k, 0) + w
        exp = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert got == exp

    def test_negative_weight_fails_loudly(self, spark):
        # Misra-Gries needs positive increments; a negative weight used
        # to silently evict true heavy hitters instead of erroring.
        import pytest

        from kubenetmon_spark.operators.sketch import heavy_hitters_weighted

        df = spark.createDataFrame(
            [("a", 10), ("b", -3), ("a", 5)], "k string, w long"
        )
        with pytest.raises(Exception, match="non-negative"):
            heavy_hitters_weighted(df, "k", "w", k=2).collect()


class TestSeasonalDecompose:
    def test_recovers_injected_pattern(self, spark):
        from kubenetmon_spark.operators.timeseries import (
            seasonal_decompose,
            seasonal_profile,
        )

        # x_t = 100 + (t % 4)*8: pure period-4 seasonality, flat trend.
        rows = [("a", t, 100 + (t % 4) * 8) for t in range(40)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        prof = {
            r.phase: r
            for r in seasonal_profile(df, ["g"], "t", "x", 4).collect()
        }
        # mean of pattern = 112; additive indices = (-12, -4, +4, +12)
        assert [prof[p].seasonal_milli for p in range(4)] == [
            -12000, -4000, 4000, 12000,
        ]
        d = seasonal_decompose(df, ["g"], "t", "x", 4)
        rowsd = {r.idx: r for r in d.collect()}
        # boundary rows (first/last half-window) are undefined
        assert rowsd[0].trend_num is None and rowsd[39].detr_num is None
        # interior trend = 112 exactly (scaled by 2*period=8)
        assert rowsd[10].trend_num == 112 * 8

    def test_odd_period(self, spark):
        from kubenetmon_spark.operators.timeseries import seasonal_profile

        rows = [("a", t, 50 + [0, 9, 0][t % 3]) for t in range(30)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        prof = {
            r.phase: r
            for r in seasonal_profile(df, ["g"], "t", "x", 3).collect()
        }
        assert [prof[p].seasonal_milli for p in range(3)] == [
            -3000, 6000, -3000,
        ]


class TestDetectPeriod:
    def test_finds_injected_period(self, spark):
        from kubenetmon_spark.operators.timeseries import detect_period

        rows = [("a", t, 10 + (20 if t % 7 == 0 else 0)) for t in range(70)]
        rows += [("b", t, 10 + (15 if t % 12 == 0 else 0)) for t in range(96)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        got = {r.g: r for r in detect_period(df, ["g"], "t", "x").collect()}
        assert got["a"].best_lag == 7
        assert got["b"].best_lag == 12
        assert got["a"].autocov > 0

    def test_rejects_bad_lags(self, spark):
        import pytest

        from kubenetmon_spark.operators.timeseries import detect_period

        df = spark.createDataFrame([("a", 1, 1)], ["g", "t", "x"])
        with pytest.raises(ValueError):
            detect_period(df, ["g"], "t", "x", min_lag=5, max_lag=2)


class TestPagerankExact:
    def test_cycle_is_uniform_and_star_center_wins(self, spark):
        from kubenetmon_spark.operators.graph import pagerank_exact

        cycle = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], ["src", "dst"]
        )
        pr = {r.node: r.pr for r in pagerank_exact(cycle, iterations=5).collect()}
        # symmetric cycle: identical rank, ~1/3 of a ppb unit each
        assert len(set(pr.values())) == 1
        assert abs(pr[0] - 1_000_000_000 // 3) < 1000

        star = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 0), (0, 1)], ["src", "dst"]
        )
        ps = {r.node: r.pr for r in pagerank_exact(star, iterations=10).collect()}
        # mass concentrates in the 0<->1 two-cycle; both beat the leaves
        assert ps[0] > ps[2] and ps[1] > ps[2]
        assert ps[2] == ps[3]  # symmetric leaves
        # total mass bounded by unit (floor leaks only downward)
        assert sum(ps.values()) <= 1_000_000_000

    def test_deterministic_across_partitionings(self, spark):
        from kubenetmon_spark.operators.graph import pagerank_exact

        edges = [(i % 13, (i * 7 + 3) % 13) for i in range(60)]
        edges = [e for e in edges if e[0] != e[1]]
        a = spark.createDataFrame(edges, ["src", "dst"])
        b = a.repartition(7)
        ra = sorted((r.node, r.pr) for r in pagerank_exact(a, iterations=6).collect())
        rb = sorted((r.node, r.pr) for r in pagerank_exact(b, iterations=6).collect())
        assert ra == rb

    def test_floor_exact_above_double_precision(self, spark):
        # Regression: pr/deg was computed as DOUBLE division + cast,
        # which stops being floor-exact once pr exceeds 2^53 (and can
        # round UP across an integer for huge degrees). With
        # unit=2^56 the old code diverges from true integer floor.
        from kubenetmon_spark.operators.graph import pagerank_exact

        edges = [(s, d) for s in range(7) for d in range(7) if (s * 3 + d) % 4 and s != d]
        unit = 2**56
        got = {
            r.node: r.pr
            for r in pagerank_exact(
                spark.createDataFrame(edges, ["src", "dst"]),
                iterations=6,
                unit=unit,
            ).collect()
        }

        # pure-Python integer reference (same floor-division spec)
        nodes = sorted({n for e in edges for n in e})
        n = len(nodes)
        deg = {s: sum(1 for a, _ in edges if a == s) for s in nodes}
        base = (unit * 15) // (100 * n)
        pr = {v: unit // n for v in nodes}
        for _ in range(6):
            sc = {v: 0 for v in nodes}
            for s, d in edges:
                sc[d] += pr[s] // deg[s]
            pr = {v: base + (85 * sc[v]) // 100 for v in nodes}
        assert got == pr

    def test_unit_overflow_guard(self, spark):
        import pytest

        from kubenetmon_spark.operators.graph import pagerank_exact

        e = spark.createDataFrame([(0, 1)], ["src", "dst"])
        with pytest.raises(ValueError, match="unit"):
            pagerank_exact(e, unit=2**63 // 10)


class TestSeasonalForecast:
    def test_pure_seasonal_series_forecast_exact(self, spark):
        from kubenetmon_spark.operators.timeseries import seasonal_forecast

        # x_t = 100 + (t % 4)*8, flat trend 112: forecast = pattern value
        rows = [("a", t, 100 + (t % 4) * 8) for t in range(40)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        fc = {
            r.h: r
            for r in seasonal_forecast(
                df, ["g"], "t", "x", period=4, horizon=8
            ).collect()
        }
        assert len(fc) == 8
        for h, r in fc.items():
            phase = (39 + h) % 4
            assert r.phase == phase
            assert r.forecast_milli == (100 + phase * 8) * 1000


class TestSeasonalAnomalies:
    def test_injected_spike_flagged(self, spark):
        from kubenetmon_spark.operators.timeseries import seasonal_anomalies

        # flat 100 with period-4 pattern, one big spike at t=21
        rows = [
            ("a", t, (100 + (t % 4) * 8) + (500 if t == 21 else 0))
            for t in range(48)
        ]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = seasonal_anomalies(df, ["g"], "t", "x", period=4, k_tenths=30)
        flagged = {r.idx for r in out.filter("is_anomaly").collect()}
        assert 21 in flagged
        # the spike contaminates its neighbors' trend window, so allow
        # nearby flags, but the quiet far tail must be clean
        assert all(abs(i - 21) <= 2 for i in flagged)

    def test_clean_series_has_no_anomalies(self, spark):
        from kubenetmon_spark.operators.timeseries import seasonal_anomalies

        rows = [("a", t, 100 + (t % 4) * 8) for t in range(48)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = seasonal_anomalies(df, ["g"], "t", "x", period=4, k_tenths=30)
        assert out.filter("is_anomaly").count() == 0


class TestDataQualityAudit:
    def test_rules_one_pass_and_null_is_violation(self, spark):
        from kubenetmon_spark.operators.audit import check_rules

        df = spark.createDataFrame(
            [(1, 10.0), (2, -3.0), (3, None), (4, 99.0)],
            "id long, x double",
        )
        out = {r.rule: r for r in check_rules(
            df,
            {
                "x_positive": F.col("x") > 0,
                "x_small": F.col("x") < 50,
                "id_known": F.col("id").isin(1, 2, 3, 4),
            },
        ).collect()}
        assert out["x_positive"].n_violations == 2  # -3 and NULL
        assert out["x_small"].n_violations == 2     # 99 and NULL
        assert out["id_known"].n_violations == 0
        assert all(r.n_rows == 4 for r in out.values())
        assert out["x_positive"].viol_bp == 5000
        # the whole audit is one aggregation — a single scan of df
        plan = check_rules(
            df, {"a": F.col("x") > 0, "b": F.col("id") > 0}
        )._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("LogicalRDD") == 1

    def test_referential_orphans(self, spark):
        from kubenetmon_spark.operators.audit import referential_violations

        child = spark.createDataFrame(
            [(1, 10), (2, 20), (3, None), (4, 99)],
            "id long, fk long",
        )
        parent = spark.createDataFrame([(10,), (20,)], "pk long")
        orphans = referential_violations(child, parent, "fk", "pk")
        assert sorted(r.id for r in orphans.collect()) == [3, 4]


class TestEmptyInputSweep:
    """Round-5 operators must degrade to empty/zero outputs, not throw,
    on empty inputs (the first micro-batch of a cold stream is empty)."""

    def test_empty_inputs(self, spark):
        from kubenetmon_spark.operators.curation import (
            c4_line_filter,
            dedup_lines,
            sample_negatives,
            split_dataset,
        )
        from kubenetmon_spark.operators.dedup import remove_duplicate_spans
        from kubenetmon_spark.operators.stats import (
            calibration_bins,
            cohens_kappa,
            min_sample_sizes,
            ols2_exact,
            winsorize,
        )
        from kubenetmon_spark.operators.timeseries import (
            detect_period,
            seasonal_decompose,
            seasonal_profile,
        )

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert dedup_lines(docs, "doc_id").count() == 0
        assert c4_line_filter(docs).count() == 0
        assert remove_duplicate_spans(docs, "doc_id").count() == 0
        assert split_dataset(
            docs, "doc_id", {"train": 10000}
        ).count() == 0

        lab = spark.createDataFrame([], "id long, label int")
        assert sample_negatives(lab, "id", "label").count() == 0

        xy = spark.createDataFrame([], "g string, x1 long, x2 long, y long")
        assert ols2_exact(xy, ["g"], "x1", "x2", "y").count() == 0
        assert min_sample_sizes(xy, ["g"], "x1", "y").count() == 0
        assert winsorize(xy, ["g"], "x1").count() == 0
        assert calibration_bins(xy, "x1", "y").count() == 0
        k = cohens_kappa(xy, "x1", "x2").collect()[0]
        assert k.n == 0

        ts = spark.createDataFrame([], "g string, t long, x long")
        assert seasonal_decompose(ts, ["g"], "t", "x", 4).count() == 0
        assert seasonal_profile(ts, ["g"], "t", "x", 4).count() == 0
        assert detect_period(ts, ["g"], "t", "x").count() == 0


class TestKmvStateMerge:
    def test_exact_below_k_and_merge_equals_whole(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_merge, kmv_state

        rows = [(d, f"u{i % 50}") for d in ("d1", "d2", "d3") for i in range(300)]
        df = spark.createDataFrame(rows, ["day", "user"]).withColumn(
            "grp", F.lit("all")
        )
        states = kmv_state(df, ["grp", "day"], "user", k=256)
        merged = kmv_merge(states, ["grp"], k=256).collect()[0].n_distinct_est
        assert merged == 50  # below k -> EXACT count

    def test_estimate_close_and_partition_invariant(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_merge, kmv_state

        rows = [("g", f"v{i}") for i in range(5000)]
        ests = []
        for parts in (2, 7):
            df = spark.createDataFrame(rows, ["grp", "v"]).repartition(parts)
            ests.append(
                kmv_merge(
                    kmv_state(df, ["grp"], "v", k=256), ["grp"], k=256
                ).collect()[0].n_distinct_est
            )
        # KMV state is a pure set function: any partitioning, same bits
        assert ests[0] == ests[1]
        assert abs(ests[0] - 5000) / 5000 < 0.15

    def test_merge_of_parts_equals_global_state(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_merge, kmv_state

        rows = [(f"d{i % 4}", f"u{i}") for i in range(2000)]
        df = spark.createDataFrame(rows, ["day", "user"]).withColumn(
            "grp", F.lit("all")
        )
        via_parts = kmv_merge(
            kmv_state(df, ["grp", "day"], "user", k=128), ["grp"], k=128
        ).collect()[0].n_distinct_est
        direct = kmv_merge(
            kmv_state(df, ["grp"], "user", k=128), ["grp"], k=128
        ).collect()[0].n_distinct_est
        assert via_parts == direct  # mergeability: top-k of union of top-ks


class TestHllExactStateMerge:
    def test_merge_of_daily_states_equals_global_build(self, spark):
        from kubenetmon_spark.operators.sketch import hll_exact_merge, hll_exact_state

        rows = [(f"d{i % 5}", f"u{i % 700}") for i in range(3000)]
        df = spark.createDataFrame(rows, ["day", "user"]).withColumn(
            "grp", F.lit("all")
        )
        via_days = hll_exact_merge(
            hll_exact_state(df, ["grp", "day"], "user", p=8), ["grp"], p=8
        ).collect()[0]
        direct = hll_exact_merge(
            hll_exact_state(df, ["grp"], "user", p=8), ["grp"], p=8
        ).collect()[0]
        # per-bucket MAX is associative/commutative/idempotent: any
        # split of the data merges to the identical register table
        assert (via_days.n_distinct_est, via_days.n_regs) == (
            direct.n_distinct_est,
            direct.n_regs,
        )

    def test_estimate_close_and_partition_invariant(self, spark):
        from kubenetmon_spark.operators.sketch import hll_exact_merge, hll_exact_state

        rows = [("g", f"v{i}") for i in range(5000)]
        ests = []
        for parts in (2, 7):
            df = spark.createDataFrame(rows, ["grp", "v"]).repartition(parts)
            ests.append(
                hll_exact_merge(
                    hll_exact_state(df, ["grp"], "v", p=8), ["grp"], p=8
                ).collect()[0].n_distinct_est
            )
        assert ests[0] == ests[1]  # registers are a pure set function
        # raw estimator std error ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
        assert abs(ests[0] - 5000) / 5000 < 0.20

    def test_nulls_skipped_and_empty_input(self, spark):
        from kubenetmon_spark.operators.sketch import hll_exact_merge, hll_exact_state

        df = spark.createDataFrame(
            [("g", "a"), ("g", None), ("g", "b")], "grp string, v string"
        )
        st = hll_exact_state(df, ["grp"], "v", p=8)
        assert st.collect()[0].hll_regs  # built from the 2 non-null rows
        n_regs = hll_exact_merge(st, ["grp"], p=8).collect()[0].n_regs
        assert n_regs == 2

        empty = spark.createDataFrame([], "grp string, v string")
        assert hll_exact_state(empty, ["grp"], "v").count() == 0
        assert (
            hll_exact_merge(
                hll_exact_state(empty, ["grp"], "v"), ["grp"]
            ).count()
            == 0
        )


class TestEntityClusters:
    def test_collapsed_equals_row_level_formulation(self, spark):
        from kubenetmon_spark.operators.fuzzy import (
            blocked_levenshtein_pairs,
            entity_clusters,
        )
        from kubenetmon_spark.operators.graph import duplicate_clusters

        rows = []
        rid = 0
        # duplication-heavy corpus: names repeat, typo variants chain
        for name, copies in [
            ("alpha widget", 4), ("alpha wldget", 2),  # 1 edit from above
            ("beta widget", 3),                        # 1 edit from alpha widget
            ("gamma gizmo", 3), ("gamma gizmos", 1),   # 1 edit chain
            ("lonely part", 2),                        # exact-dup-only cluster
        ]:
            for _ in range(copies):
                rows.append((rid, name))
                rid += 1
        df = spark.createDataFrame(rows, "pid long, name string")
        kw = dict(
            id_col="pid", text_col="name",
            block_col=F.element_at(F.split("name", " "), 2),
            max_distance=2,
        )
        fast = {
            r.cluster_rep: (r.n_records, r.member_sum)
            for r in entity_clusters(df, length_bucket=4, **kw).collect()
        }
        pairs = blocked_levenshtein_pairs(df, **kw)
        slow_nodes = duplicate_clusters(pairs, id_1="a_id", id_2="b_id")
        slow = {
            r.cluster_rep: (r.n, r.s)
            for r in slow_nodes.groupBy("cluster_rep")
            .agg(F.count("*").alias("n"), F.sum("node").alias("s"))
            .collect()
        }
        # the collapsed formulation matches row-level CC exactly on every
        # multi-record cluster; it ADDITIONALLY reports singleton records
        # (row-level CC never sees a node without an edge) — "gamma
        # gizmos" blocks under a different word than "gamma gizmo", so
        # its single record is exactly such a singleton
        assert {k: v for k, v in fast.items() if v[0] > 1 or k in slow} == slow
        singletons = {k: v for k, v in fast.items() if k not in slow}
        assert singletons == {12: (1, 12)}

    def test_singleton_text_forms_own_cluster(self, spark):
        from kubenetmon_spark.operators.fuzzy import entity_clusters

        df = spark.createDataFrame(
            [(1, "unique alpha"), (2, "unique alpha"), (7, "faraway zebra")],
            "pid long, name string",
        )
        got = {
            r.cluster_rep: (r.n_records, r.member_sum)
            for r in entity_clusters(
                df, id_col="pid", text_col="name",
                block_col=F.element_at(F.split("name", " "), 2),
                max_distance=2,
            ).collect()
        }
        assert got == {1: (2, 3), 7: (1, 7)}


class TestQuantileSketch:
    def test_exact_below_k_and_merge_equals_whole(self, spark):
        from kubenetmon_spark.operators.sketch import (
            quantile_merge,
            quantile_sample_state,
        )

        rows = [("g", f"d{i % 3}", i, i * 10) for i in range(100)]
        df = spark.createDataFrame(rows, "grp string, day string, k long, v long")
        daily = quantile_sample_state(df, ["grp", "day"], "v", "k", k=256)
        got = quantile_merge(daily, ["grp"], [0, 50, 100], k=256).collect()[0]
        # below k: the sample IS the group -> exact quantiles
        assert got.n_sample == 100
        assert (got.p0, got.p50, got.p100) == (0, 490, 990)
        whole = quantile_merge(
            quantile_sample_state(df, ["grp"], "v", "k", k=256),
            ["grp"], [0, 50, 100], k=256,
        ).collect()[0]
        assert (whole.p0, whole.p50, whole.p100) == (got.p0, got.p50, got.p100)

    def test_null_key_fails_loudly(self, spark):
        # Regression: a NULL key's NULL hash sorted LAST in the fold
        # but FIRST in the final sort_array — it could displace a real
        # sample row. NULL keys break the uniqueness contract: raise.
        import pytest

        from kubenetmon_spark.operators.sketch import quantile_sample_state

        df = spark.createDataFrame(
            [("g", "k1", 1), ("g", None, 2)], "grp string, k string, v long"
        )
        with pytest.raises(Exception, match="NULL key"):
            quantile_sample_state(df, ["grp"], "v", "k", k=8).collect()

    def test_kmv_state_skips_null_values(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_merge, kmv_state

        df = spark.createDataFrame(
            [("g", "a"), ("g", None), ("g", "b"), ("g", None)],
            "grp string, v string",
        )
        st = kmv_state(df, ["grp"], "v", k=8)
        got = kmv_merge(st, ["grp"], k=8).collect()[0]
        assert got.n_distinct_est == 2  # NULLs skipped, exact below k

    def test_partition_invariance_and_accuracy(self, spark):
        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.sketch import (
            quantile_merge,
            quantile_sample_state,
        )

        rows = [(i, i) for i in range(20000)]  # v uniform 0..19999
        res = []
        for parts in (2, 11):
            df = spark.createDataFrame(rows, "k long, v long").repartition(parts)
            st = quantile_sample_state(df, [], "v", "k", k=512)
            r = quantile_merge(st.withColumn("_g", F.lit(1)), ["_g"], [50, 90], k=512).collect()[0]
            res.append((r.n_sample, r.p50, r.p90))
        # deterministic sample: any partitioning, same bits
        assert res[0] == res[1]
        n, p50, p90 = res[0]
        assert n == 512
        # uniform data: sampled percentile within ~10% of the true one
        assert abs(p50 - 10000) < 2000 and abs(p90 - 18000) < 2000


class TestKmvOverlap:
    def test_exact_overlap_below_k(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_overlap, kmv_state

        rows = (
            [("a", f"u{i}") for i in range(100)]          # a: u0..u99
            + [("b", f"u{i}") for i in range(50, 150)]    # b: u50..u149
            + [("c", f"x{i}") for i in range(30)]         # c: disjoint
        )
        df = spark.createDataFrame(rows, "grp string, user string")
        st = kmv_state(df, ["grp"], "user", k=1024)
        got = {
            (r.group_1, r.group_2): (r.n_union_sample, r.n_common, r.jaccard_bp)
            for r in kmv_overlap(st, "grp", k=1024).collect()
        }
        # below k the sketch IS the set: overlap and Jaccard are exact
        assert got[("a", "b")] == (150, 50, 50 * 10000 // 150)
        assert got[("a", "c")] == (130, 0, 0)
        assert got[("b", "c")] == (130, 0, 0)

    def test_estimate_reasonable_above_k(self, spark):
        from kubenetmon_spark.operators.sketch import kmv_overlap, kmv_state

        rows = [("a", f"u{i}") for i in range(4000)] + [
            ("b", f"u{i}") for i in range(2000, 6000)
        ]  # true Jaccard = 2000/6000 = 1/3
        df = spark.createDataFrame(rows, "grp string, user string")
        st = kmv_state(df, ["grp"], "user", k=512)
        r = kmv_overlap(st, "grp", k=512).collect()[0]
        assert abs(r.jaccard_bp - 3333) < 700  # within sampling error

    def test_empty_sketch_pair_yields_null_not_div0(self, spark):
        # Regression: two all-NULL-value groups produce EMPTY sketches;
        # their pair's union sample is size 0 and the ANSI `div` used to
        # kill the job with DIVIDE_BY_ZERO. Undefined overlap -> NULL.
        from kubenetmon_spark.operators.sketch import kmv_overlap, kmv_state

        df = spark.createDataFrame(
            [("a", None), ("b", None), ("c", "u1")],
            "grp string, user string",
        )
        st = kmv_state(df, ["grp"], "user", k=64)
        got = {
            (r.group_1, r.group_2): (r.n_union_sample, r.jaccard_bp)
            for r in kmv_overlap(st, "grp", k=64).collect()
        }
        assert got[("a", "b")] == (0, None)
        assert got[("a", "c")] == (1, 0)
        assert got[("b", "c")] == (1, 0)


class TestEntityClustersDeterminism:
    def test_deterministic_under_repartition(self, spark):
        # ADVICE r02: block pick is min(), not first() — identical
        # clusters from any partitioning (block is a pure function of
        # the text, per the documented precondition)
        from kubenetmon_spark.operators.fuzzy import entity_clusters

        rows = [(i, ["red ring", "red king", "blue bolt"][i % 3]) for i in range(60)]
        df = spark.createDataFrame(rows, "pid long, name string")
        kw = dict(
            id_col="pid", text_col="name",
            block_col=F.element_at(F.split("name", " "), 2),
            max_distance=2,
        )
        outs = []
        for parts in (1, 4, 13):
            got = {
                r.cluster_rep: (r.n_records, r.member_sum)
                for r in entity_clusters(df.repartition(parts), **kw).collect()
            }
            outs.append(got)
        assert outs[0] == outs[1] == outs[2]


class TestScd2NullTransitions:
    def test_null_attribute_transitions_are_version_boundaries(self, spark):
        # struct != yields NULL when an attribute field is null, which
        # used to merge null->value transitions into one run; eqNullSafe
        # makes every transition a boundary
        from kubenetmon_spark.operators.scd import scd2_from_snapshots

        snaps = spark.createDataFrame(
            [
                ("p1", None, "2024-01-01 00:00:00"),
                ("p1", "a", "2024-01-02 00:00:00"),
                ("p1", None, "2024-01-03 00:00:00"),
                ("p1", None, "2024-01-04 00:00:00"),
            ],
            "pod string, app string, snapshot_ts string",
        ).withColumn("snapshot_ts", F.col("snapshot_ts").cast("timestamp"))
        out = sorted(
            (str(r.valid_from), r.app)
            for r in scd2_from_snapshots(snaps, ["pod"], ["app"]).collect()
        )
        # three versions: null, 'a', null (the repeat null folds)
        assert out == [
            ("2024-01-01 00:00:00", None),
            ("2024-01-02 00:00:00", "a"),
            ("2024-01-03 00:00:00", None),
        ]


class TestCusumChangepoint:
    @staticmethod
    def _spec(values):
        """Pure-Python CUSUM argmax: (idx, max|n*cum_i - i*T|), 1-based,
        ties to the earliest index."""
        n, t = len(values), sum(values)
        best_idx, best_dev = None, -1
        cum = 0
        for i, v in enumerate(values, start=1):
            cum += v
            dev = abs(n * cum - i * t)
            if dev > best_dev:
                best_idx, best_dev = i, dev
        return best_idx, best_dev

    def test_step_series_finds_the_step(self, spark):
        from kubenetmon_spark.operators.timeseries import cusum_changepoint

        # level shift 10 -> 50 at position 20 (1-based idx 20 is the
        # last low point: S_i peaks at the boundary)
        vals = [10] * 20 + [50] * 20
        rows = [("a", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = cusum_changepoint(df, "g", "t", "x").collect()
        assert len(out) == 1
        idx, dev = self._spec(vals)
        assert out[0].cp_idx == idx == 20
        assert int(out[0].max_abs_dev) == dev
        assert out[0].n_points == 40

    def test_python_spec_differential_multi_series(self, spark):
        import random

        from kubenetmon_spark.operators.timeseries import cusum_changepoint

        rng = random.Random(7)
        series = {
            f"s{k}": [rng.randrange(0, 1000) for _ in range(rng.randrange(3, 60))]
            for k in range(8)
        }
        rows = [
            (g, i, v) for g, vals in series.items() for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        got = {
            r.g: (r.cp_idx, int(r.max_abs_dev), r.n_points)
            for r in cusum_changepoint(df, "g", "t", "x").collect()
        }
        for g, vals in series.items():
            idx, dev = self._spec(vals)
            assert got[g] == (idx, dev, len(vals)), g

    def test_constant_series_dev_zero_ties_earliest(self, spark):
        from kubenetmon_spark.operators.timeseries import cusum_changepoint

        df = spark.createDataFrame(
            [("a", i, 7) for i in range(10)], ["g", "t", "x"]
        )
        r = cusum_changepoint(df, "g", "t", "x").collect()[0]
        assert int(r.max_abs_dev) == 0 and r.cp_idx == 1

    def test_empty_input(self, spark):
        from kubenetmon_spark.operators.timeseries import cusum_changepoint

        df = spark.createDataFrame([], "g string, t long, x long")
        assert cusum_changepoint(df, "g", "t", "x").count() == 0


class TestTimeDecayedSum:
    @staticmethod
    def _spec(rows, tau):
        """rows: [(t, tb, x)] — fold S = (S >> min(dt//tau, 63)) + x."""
        rows = sorted(rows)
        s = rows[0][2]
        for (pt, _, _), (t, _, x) in zip(rows, rows[1:]):
            s = (s >> min((t - pt) // tau, 63)) + x
        return s

    def test_halving_per_tau(self, spark):
        from kubenetmon_spark.operators.timeseries import time_decayed_sum

        rows = [("a", 0, 0, 100), ("a", 3600, 1, 7), ("a", 3600, 2, 3),
                ("a", 1_000_000, 3, 50)]
        df = spark.createDataFrame(rows, "g string, t long, tb long, x long")
        r = time_decayed_sum(df, ["g"], "t", "tb", "x", tau_s=3600).collect()[0]
        # 100 -> >>1 +7 = 57 -> >>0 +3 = 60 -> >>63(capped) +50 = 50
        assert (r.n, r.decayed_sum) == (4, 50)

    def test_python_spec_differential(self, spark):
        import random

        from kubenetmon_spark.operators.timeseries import time_decayed_sum

        rng = random.Random(11)
        data = []
        expect = {}
        for k in range(6):
            g = f"s{k}"
            t = 0
            rows = []
            for i in range(rng.randrange(1, 40)):
                t += rng.randrange(0, 20000)
                rows.append((t, i, rng.randrange(0, 100000)))
            expect[g] = (len(rows), self._spec(rows, 3600))
            data += [(g, *r) for r in rows]
        df = spark.createDataFrame(data, "g string, t long, tb long, x long")
        got = {
            r.g: (r.n, r.decayed_sum)
            for r in time_decayed_sum(df, ["g"], "t", "tb", "x", 3600).collect()
        }
        assert got == expect

    def test_single_row_and_empty(self, spark):
        from kubenetmon_spark.operators.timeseries import time_decayed_sum

        one = spark.createDataFrame(
            [("a", 5, 0, 42)], "g string, t long, tb long, x long"
        )
        r = time_decayed_sum(one, ["g"], "t", "tb", "x", 60).collect()[0]
        assert (r.n, r.decayed_sum) == (1, 42)
        empty = spark.createDataFrame([], "g string, t long, tb long, x long")
        assert time_decayed_sum(empty, ["g"], "t", "tb", "x", 60).count() == 0


class TestTimeDecayedMax:
    @staticmethod
    def _spec(rows, tau):
        rows = sorted(rows)
        m = rows[0][2]
        for (pt, _, _), (t, _, x) in zip(rows, rows[1:]):
            m = max(m >> min((t - pt) // tau, 63), x)
        return m

    def test_old_peak_fades(self, spark):
        from kubenetmon_spark.operators.timeseries import time_decayed_max

        # peak 1000 at t=0; after 2 tau it reads 250, so the newer 400 wins
        rows = [("a", 0, 0, 1000), ("a", 7200, 1, 400)]
        df = spark.createDataFrame(rows, "g string, t long, tb long, x long")
        r = time_decayed_max(df, ["g"], "t", "tb", "x", 3600).collect()[0]
        assert (r.n, r.decayed_max) == (2, 400)
        # but within the same tau the old peak still masks
        rows2 = [("a", 0, 0, 1000), ("a", 1800, 1, 400)]
        df2 = spark.createDataFrame(rows2, "g string, t long, tb long, x long")
        r2 = time_decayed_max(df2, ["g"], "t", "tb", "x", 3600).collect()[0]
        assert r2.decayed_max == 1000

    def test_python_spec_differential(self, spark):
        import random

        from kubenetmon_spark.operators.timeseries import time_decayed_max

        rng = random.Random(13)
        data, expect = [], {}
        for k in range(6):
            g, t, rows = f"s{k}", 0, []
            for i in range(rng.randrange(1, 40)):
                t += rng.randrange(0, 20000)
                rows.append((t, i, rng.randrange(0, 100000)))
            expect[g] = (len(rows), self._spec(rows, 3600))
            data += [(g, *r) for r in rows]
        df = spark.createDataFrame(data, "g string, t long, tb long, x long")
        got = {
            r.g: (r.n, r.decayed_max)
            for r in time_decayed_max(df, ["g"], "t", "tb", "x", 3600).collect()
        }
        assert got == expect


class TestKHopReachability:
    def test_min_hops_on_known_graph(self, spark):
        from kubenetmon_spark.operators.graph import k_hop_reachability

        # a -> b -> c -> d, plus shortcut a -> c; e unreachable
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")],
            "s string, d string",
        )
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {
            r.node: r.hops
            for r in k_hop_reachability(edges, "s", "d", seeds, 3).collect()
        }
        # directed: e never reached; c via the shortcut at hop 1
        assert got == {"a": 0, "b": 1, "c": 1, "d": 2}

    def test_k_truncates_and_multi_seed(self, spark):
        from kubenetmon_spark.operators.graph import k_hop_reachability

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
            "s string, d string",
        )
        seeds = spark.createDataFrame([("a",), ("x",)], "node string")
        got = {
            r.node: r.hops
            for r in k_hop_reachability(edges, "s", "d", seeds, 1).collect()
        }
        assert got == {"a": 0, "x": 0, "b": 1, "y": 1}

    def test_cycle_terminates(self, spark):
        from kubenetmon_spark.operators.graph import k_hop_reachability

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "s string, d string"
        )
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {
            r.node: r.hops
            for r in k_hop_reachability(edges, "s", "d", seeds, 10).collect()
        }
        assert got == {"a": 0, "b": 1}

    def test_edges_are_distinct_flag_identical_result(self, spark):
        # the r7 fast path skips the defensive edge dedup; BFS is
        # idempotent over parallel edges, so even a caller that LIES
        # (duplicate edges with the flag set) gets identical results
        from kubenetmon_spark.operators.graph import k_hop_reachability

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],
            "s string, d string",
        )
        seeds = spark.createDataFrame([("a",)], "node string")
        base = {
            r.node: r.hops
            for r in k_hop_reachability(edges, "s", "d", seeds, 3).collect()
        }
        fast = {
            r.node: r.hops
            for r in k_hop_reachability(
                edges, "s", "d", seeds, 3, edges_are_distinct=True
            ).collect()
        }
        assert fast == base == {"a": 0, "b": 1, "c": 1, "d": 2}


class TestTemporalReachability:
    def test_time_respecting_only(self, spark):
        from kubenetmon_spark.operators.graph import temporal_reachability

        # a-(t=5)->b-(t=3)->c: c unreachable (3 < 5); b-(t=9)->d reachable
        edges = spark.createDataFrame(
            [("a", "b", 5), ("b", "c", 3), ("b", "d", 9)],
            "s string, d string, ts long",
        )
        seeds = spark.createDataFrame(
            [("a", 0)], "node string, arrival long"
        )
        got = {
            r.node: r.arrival
            for r in temporal_reachability(
                edges, "s", "d", "ts", seeds, 3
            ).collect()
        }
        assert got == {"a": 0, "b": 5, "d": 9}

    def test_earliest_arrival_wins_and_enables_more(self, spark):
        from kubenetmon_spark.operators.graph import temporal_reachability

        # two routes to b: t=10 direct, t=2 via x; early arrival at b
        # enables the t=4 edge onward
        edges = spark.createDataFrame(
            [("a", "b", 10), ("a", "x", 1), ("x", "b", 2), ("b", "c", 4)],
            "s string, d string, ts long",
        )
        seeds = spark.createDataFrame(
            [("a", 0)], "node string, arrival long"
        )
        got = {
            r.node: r.arrival
            for r in temporal_reachability(
                edges, "s", "d", "ts", seeds, 3
            ).collect()
        }
        assert got == {"a": 0, "x": 1, "b": 2, "c": 4}

    def test_edges_are_distinct_flag_identical_result(self, spark):
        # min-arrival relaxation is idempotent over parallel edges:
        # the r7 dedup-skip fast path must agree even on duplicates
        from kubenetmon_spark.operators.graph import temporal_reachability

        edges = spark.createDataFrame(
            [("a", "b", 5), ("a", "b", 5), ("b", "c", 7), ("b", "c", 3)],
            "s string, d string, ts long",
        )
        seeds = spark.createDataFrame(
            [("a", 0)], "node string, arrival long"
        )
        base = {
            r.node: r.arrival
            for r in temporal_reachability(
                edges, "s", "d", "ts", seeds, 3
            ).collect()
        }
        fast = {
            r.node: r.arrival
            for r in temporal_reachability(
                edges, "s", "d", "ts", seeds, 3, edges_are_distinct=True
            ).collect()
        }
        assert fast == base == {"a": 0, "b": 5, "c": 7}

    def test_seed_arrival_gates_first_hop(self, spark):
        from kubenetmon_spark.operators.graph import temporal_reachability

        edges = spark.createDataFrame(
            [("a", "b", 5)], "s string, d string, ts long"
        )
        late_seed = spark.createDataFrame(
            [("a", 6)], "node string, arrival long"
        )
        got = {
            r.node: r.arrival
            for r in temporal_reachability(
                edges, "s", "d", "ts", late_seed, 2
            ).collect()
        }
        assert got == {"a": 6}  # edge at t=5 predates the taint


class TestAnovaExact:
    @staticmethod
    def _spec(groups):
        """Python reference of the integer surrogate."""
        mom = [(len(v), sum(v), sum(x * x for x in v)) for v in groups]
        k = len(mom)
        n = sum(m[0] for m in mom)
        s = sum(m[1] for m in mom)
        ssw = sum((ng * qg - sg * sg) // ng for ng, sg, qg in mom)
        sb = sum((sg * sg) // ng for ng, sg, _ in mom)
        ssb = (n * sb - s * s) // n
        f_bp = (ssb * (n - k) * 10000) // (ssw * (k - 1))
        return k, n, str(ssb), str(ssw), f_bp

    def test_matches_python_reference_and_float_anova(self, spark):
        import random

        from kubenetmon_spark.operators.stats import anova_exact

        rng = random.Random(5)
        groups = {
            g: [rng.randrange(0, 1000) + off
                for _ in range(rng.randrange(20, 60))]
            for g, off in [("a", 0), ("b", 300), ("c", 900)]
        }
        rows = [(g, x) for g, vs in groups.items() for x in vs]
        df = spark.createDataFrame(rows, "g string, x long")
        r = anova_exact(df, "g", "x").collect()[0]
        k, n, ssb, ssw, f_bp = self._spec(list(groups.values()))
        assert (r.k, r.n, r.ssb, r.ssw, r.f_bp) == (k, n, ssb, ssw, f_bp)
        # the integer surrogate tracks the real float F closely
        means = {g: sum(v) / len(v) for g, v in groups.items()}
        gm = sum(sum(v) for v in groups.values()) / n
        ssb_f = sum(len(v) * (means[g] - gm) ** 2 for g, v in groups.items())
        ssw_f = sum(
            (x - means[g]) ** 2 for g, v in groups.items() for x in v
        )
        f_float = (ssb_f / (k - 1)) / (ssw_f / (n - k))
        assert abs(r.f_bp / 10000 - f_float) / f_float < 1e-3

    def test_identical_groups_give_zero_f(self, spark):
        from kubenetmon_spark.operators.stats import anova_exact

        rows = [(g, x) for g in ("a", "b") for x in (10, 20, 30)]
        df = spark.createDataFrame(rows, "g string, x long")
        r = anova_exact(df, "g", "x").collect()[0]
        assert r.f_bp == 0 and r.ssb == "0"


class TestTimeDecayedCountAvg:
    @staticmethod
    def _spec(rows, tau):
        """rows: [(t, tb, x)] -> (count, sum, avg_bp) under halving decay."""
        rows = sorted(rows)
        s, c = rows[0][2], 1
        for (pt, _, _), (t, _, x) in zip(rows, rows[1:]):
            d = min((t - pt) // tau, 63)
            s = (s >> d) + x
            c = (c >> d) + 1
        return c, s, (s * 10000) // c

    def test_count_and_avg(self, spark):
        from kubenetmon_spark.operators.timeseries import time_decayed_count_avg

        rows = [("a", 0, 0, 100), ("a", 3600, 1, 7), ("a", 3600, 2, 3),
                ("a", 1_000_000, 3, 50)]
        df = spark.createDataFrame(rows, "g string, t long, tb long, x long")
        r = time_decayed_count_avg(df, ["g"], "t", "tb", "x", 3600).collect()[0]
        # counts: 1 -> >>1 +1 = 1 -> +1 = 2 -> >>63 +1 = 1; sum ends 50
        assert (r.n, r.decayed_count, r.decayed_sum) == (4, 1, 50)
        assert r.decayed_avg_bp == 500000

    def test_python_spec_differential(self, spark):
        import random

        from kubenetmon_spark.operators.timeseries import time_decayed_count_avg

        rng = random.Random(13)
        data, expect = [], {}
        for k in range(6):
            g, t, rows = f"s{k}", 0, []
            for i in range(rng.randrange(1, 40)):
                t += rng.randrange(0, 20000)
                rows.append((t, i, rng.randrange(0, 100000)))
            expect[g] = self._spec(rows, 3600)
            data += [(g, *r) for r in rows]
        df = spark.createDataFrame(data, "g string, t long, tb long, x long")
        got = {
            r.g: (r.decayed_count, r.decayed_sum, r.decayed_avg_bp)
            for r in time_decayed_count_avg(
                df, ["g"], "t", "tb", "x", 3600
            ).collect()
        }
        assert got == expect

    def test_single_row_and_empty(self, spark):
        from kubenetmon_spark.operators.timeseries import time_decayed_count_avg

        one = spark.createDataFrame(
            [("a", 5, 0, 42)], "g string, t long, tb long, x long"
        )
        r = time_decayed_count_avg(one, ["g"], "t", "tb", "x", 60).collect()[0]
        assert (r.n, r.decayed_count, r.decayed_sum, r.decayed_avg_bp) == (
            1, 1, 42, 420000,
        )
        empty = spark.createDataFrame([], "g string, t long, tb long, x long")
        assert time_decayed_count_avg(empty, ["g"], "t", "tb", "x", 60).count() == 0


class TestGreatCircleDistance:
    def test_known_distances(self, spark):
        from kubenetmon_spark.operators.geo import great_circle_distance_m

        # Berlin -> Paris ~878 km; same point -> 0; pole-to-pole clamp
        df = spark.createDataFrame(
            [(52.52, 13.405, 48.8566, 2.3522),
             (10.0, 20.0, 10.0, 20.0),
             (90.0, 0.0, -90.0, 0.0)],
            "lat1 double, lon1 double, lat2 double, lon2 double",
        )
        r = [
            row.d
            for row in df.select(
                great_circle_distance_m("lat1", "lon1", "lat2", "lon2").alias("d")
            ).collect()
        ]
        assert abs(r[0] - 878_000) < 3_000
        assert r[1] == 0.0
        import math

        assert abs(r[2] - math.pi * 6371008.8) < 1.0  # half circumference

    def test_symmetry(self, spark):
        from kubenetmon_spark.operators.geo import great_circle_distance_m

        df = spark.createDataFrame(
            [(1.5, -30.0, -60.25, 101.75)],
            "lat1 double, lon1 double, lat2 double, lon2 double",
        )
        a = df.select(
            great_circle_distance_m("lat1", "lon1", "lat2", "lon2").alias("d")
        ).collect()[0].d
        b = df.select(
            great_circle_distance_m("lat2", "lon2", "lat1", "lon1").alias("d")
        ).collect()[0].d
        assert a == b > 0


class TestAveragePrecisionExact:
    @staticmethod
    def _spec(pairs):
        """pairs: [(score, label)] -> (n_pos, ap_ppm) per the ppm-floor
        step definition (ties = one threshold block, scores desc)."""
        from collections import defaultdict

        blocks = defaultdict(lambda: [0, 0])
        for s, l in pairs:
            blocks[s][0] += l
            blocks[s][1] += 1
        tp = cum = num = 0
        for s in sorted(blocks, reverse=True):
            dtp, n = blocks[s]
            tp += dtp
            cum += n
            num += dtp * ((tp * 1_000_000) // cum)
        n_pos = tp
        return n_pos, (num // n_pos) if n_pos else None

    def test_perfect_and_worst_ranking(self, spark):
        from kubenetmon_spark.operators.stats import average_precision_exact

        perfect = [("g", 10, 1), ("g", 9, 1), ("g", 2, 0), ("g", 1, 0)]
        worst = [("g", 10, 0), ("g", 9, 0), ("g", 2, 1), ("g", 1, 1)]
        for rows, expect_ap in ((perfect, 1_000_000), (worst, 416_666)):
            df = spark.createDataFrame(rows, "g string, score long, label int")
            r = average_precision_exact(df, ["g"], "score", "label").collect()[0]
            assert (r.n_pos, r.ap_ppm) == (2, expect_ap)
            assert self._spec([(s, l) for _, s, l in rows]) == (2, expect_ap)

    def test_tie_block_single_threshold(self, spark):
        from kubenetmon_spark.operators.stats import average_precision_exact

        # all scores equal -> one block: AP = prevalence
        rows = [("g", 5, 1), ("g", 5, 0), ("g", 5, 0), ("g", 5, 1)]
        df = spark.createDataFrame(rows, "g string, score long, label int")
        r = average_precision_exact(df, ["g"], "score", "label").collect()[0]
        assert (r.n_pos, r.ap_ppm) == (2, 500_000)

    def test_python_spec_differential(self, spark):
        import random

        from kubenetmon_spark.operators.stats import average_precision_exact

        rng = random.Random(17)
        data, expect = [], {}
        for k in range(5):
            g = f"g{k}"
            pairs = [
                (rng.randrange(-20, 20), rng.randrange(0, 2))
                for _ in range(rng.randrange(3, 60))
            ]
            expect[g] = self._spec(pairs)
            data += [(g, s, l) for s, l in pairs]
        df = spark.createDataFrame(data, "g string, score long, label int")
        got = {
            r.g: (r.n_pos, r.ap_ppm)
            for r in average_precision_exact(df, ["g"], "score", "label").collect()
        }
        assert got == expect

    def test_no_positives_null(self, spark):
        from kubenetmon_spark.operators.stats import average_precision_exact

        df = spark.createDataFrame(
            [("g", 3, 0), ("g", 1, 0)], "g string, score long, label int"
        )
        r = average_precision_exact(df, ["g"], "score", "label").collect()[0]
        assert (r.n_pos, r.ap_ppm) == (0, None)


class TestTableDiff:
    def test_added_removed_changed(self, spark):
        from kubenetmon_spark.operators.audit import table_diff

        left = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
            "k long, s string, v int",
        )
        right = spark.createDataFrame(
            [(1, "a", 10), (2, "B", 21), (4, None, 40), (5, "e", 50)],
            "k long, s string, v int",
        )
        got = {
            r.k: (r.status, list(r.changed_cols))
            for r in table_diff(left, right, ["k"]).collect()
        }
        # 1 unchanged (not emitted), 4 unchanged with NULLs (null-safe)
        assert got == {
            2: ("changed", ["s", "v"]),
            3: ("removed", []),
            5: ("added", []),
        }

    def test_null_transitions_are_changes(self, spark):
        from kubenetmon_spark.operators.audit import table_diff

        left = spark.createDataFrame([(1, None)], "k long, s string")
        right = spark.createDataFrame([(1, "x")], "k long, s string")
        got = table_diff(left, right, ["k"]).collect()
        assert [(r.status, list(r.changed_cols)) for r in got] == [
            ("changed", ["s"])
        ]

    def test_compare_cols_subset(self, spark):
        from kubenetmon_spark.operators.audit import table_diff

        left = spark.createDataFrame([(1, "a", 1)], "k long, s string, v int")
        right = spark.createDataFrame(
            [(1, "a", 999)], "k long, s string, v int"
        )
        assert table_diff(left, right, ["k"], ["s"]).count() == 0

    def test_null_key_matches_itself(self, spark):
        # Regression: plain key equality reported a NULL-keyed row as
        # removed+added every diff; eqNullSafe matches it to itself.
        from kubenetmon_spark.operators.audit import table_diff

        left = spark.createDataFrame([(None, "a")], "k string, s string")
        right = spark.createDataFrame([(None, "b")], "k string, s string")
        got = table_diff(left, right, ["k"]).collect()
        assert [(r.k, r.status, list(r.changed_cols)) for r in got] == [
            (None, "changed", ["s"])
        ]


class TestReviewHardening:
    """Round-3 code-review fixes: silent-corruption and fail-open paths."""

    def test_stratified_bounded_survives_array_payload(self, spark):
        # the bounded fold used to sort by ALL non-strata columns —
        # numpy-array payloads are unhashable in the pandas sort
        from kubenetmon_spark.operators.sampling import stratified_sample_exact

        df = spark.range(0, 200).selectExpr(
            "CAST(id % 3 AS INT) AS src",
            "id AS doc_id",
            "array(CAST(id AS DOUBLE), 1.0) AS embedding",
        )
        bounded = stratified_sample_exact(df, ["src"], 5, "doc_id", bounded=True)
        exact = stratified_sample_exact(df, ["src"], 5, "doc_id", bounded=False)
        assert sorted(r.doc_id for r in bounded.collect()) == sorted(
            r.doc_id for r in exact.collect()
        )

    def test_hash_keep_null_ids_explicit(self, spark):
        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.sampling import hash_keep

        df = spark.createDataFrame(
            [("a",), (None,), ("b",)], "doc_id string"
        )
        # keep-everything keeps NULL ids too (the documented contract)
        assert df.filter(hash_keep(F.col("doc_id"), 10000)).count() == 3
        # partial rates drop NULL ids deterministically (no 3VL surprises)
        kept = df.filter(hash_keep(F.col("doc_id"), 5000))
        assert kept.filter(F.col("doc_id").isNull()).count() == 0

    def test_check_rules_dot_name_and_empty_df(self, spark):
        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.audit import check_rules

        df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
        got = check_rules(
            df.filter(F.lit(False)), {"v.nonneg": F.col("v") >= 0}
        ).collect()
        assert got[0]["rule"] == "v.nonneg"
        assert got[0]["n_violations"] == 0  # empty table: 0, never NULL

    def test_shingle_set_refuses_string_ids(self, spark):
        import pytest as _pytest

        from kubenetmon_spark.operators.dedup import shingle_set

        docs = spark.createDataFrame(
            [("doc-1", "a b c d")], "doc_id string, text string"
        )
        with _pytest.raises(ValueError, match="integral id"):
            shingle_set(docs, "doc_id", "text").count()

    def test_check_quota_fails_closed_on_corrupt_log(self, spark, tmp_path):
        import pytest as _pytest

        from kubenetmon_spark.guards import check_quota

        # missing log: zero usage (allowed)
        assert check_quota(
            spark, str(tmp_path / "nope"), "u1", max_queries=1
        ) == {"queries": 0, "result_rows": 0}
        # corrupt log: must raise, not silently disable enforcement
        bad = tmp_path / "log"
        bad.mkdir()
        (bad / "part-0.parquet").write_bytes(b"not parquet")
        with _pytest.raises(Exception):
            check_quota(spark, str(bad), "u1", max_queries=1)


class TestThirdReviewPassRegressions:
    """Round-4 third review pass (timeseries/stats/curation)."""

    def test_chunk_documents_whitespace_led_docs_survive(self, spark):
        from kubenetmon_spark.operators.curation import chunk_documents

        df = spark.createDataFrame(
            [
                (1, "\nLeading newline doc here"),
                (2, "\tHello world foo"),
                (3, "trailing newline\n"),
                (4, "   "),
                (5, None),
            ],
            "doc_id long, text string",
        )
        got = {}
        for r in chunk_documents(df, window=3, overlap=0).collect():
            got.setdefault(r.doc_id, []).append((r.chunk, r.n_tokens))
        # whitespace-led docs chunk instead of vanishing wholesale
        assert got[1] == [("Leading newline doc", 3), ("here", 1)]
        assert got[2] == [("Hello world foo", 3)]
        # trailing whitespace does not inflate token counts
        assert got[3] == [("trailing newline", 2)]
        # all-whitespace / NULL docs yield nothing
        assert 4 not in got and 5 not in got

    def test_mann_whitney_ignores_other_variants(self, spark):
        from kubenetmon_spark.operators.stats import mann_whitney_u

        base = [("g", "ctl", v) for v in (1, 2, 3)] + [
            ("g", "trt", v) for v in (4, 5, 6)
        ]
        extra = base + [("g", "other", v) for v in (10, 20, 30, 40)]
        df1 = spark.createDataFrame(base, "g string, var string, x long")
        df2 = spark.createDataFrame(extra, "g string, var string, x long")
        r1 = mann_whitney_u(df1, ["g"], "x", "var", "ctl", "trt").collect()[0]
        r2 = mann_whitney_u(df2, ["g"], "x", "var", "ctl", "trt").collect()[0]
        # a third variant's rows must not pollute the pooled ranking
        assert (r1.n1, r1.n2, r1.u1, r1.z) == (r2.n1, r2.n2, r2.u1, r2.z)
        assert r1.u1 == 0.0

    def test_anova_degenerate_groups_null_not_crash(self, spark):
        from kubenetmon_spark.operators.stats import anova_exact

        # k=1 (single group) and ssw=0 (zero within-group variance)
        one = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", 5)], "grp string, x long"
        )
        r = anova_exact(one, "grp", "x").collect()[0]
        assert r.k == 1 and r.f_bp is None
        const = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2), ("b", 2)], "grp string, x long"
        )
        r = anova_exact(const, "grp", "x").collect()[0]
        assert r.ssw == "0" and r.f_bp is None

    def test_quantile_tags_correct_and_collision_checked(self, spark):
        import pytest as _pytest

        from kubenetmon_spark.operators.stats import quantile_definitions

        df = spark.createDataFrame(
            [("g", v) for v in range(1, 101)], "g string, x long"
        )
        # 0.29 is an integral percent whose float form truncates:
        # int(0.29*100) == 28 used to mislabel it p28_*; correct
        # rounding labels it p29_*
        cols = quantile_definitions(df, ["g"], "x", levels=(0.29,)).columns
        assert any(c.startswith("p29_") for c in cols)
        assert not any(c.startswith("p28") for c in cols)
        # classic integral percents keep their classic names
        cols = quantile_definitions(df, ["g"], "x", levels=(0.5, 0.9)).columns
        assert "p50_inc" in cols and "p90_inc" in cols
        # same-percent level pairs are distinct tags, not a crash
        cols = quantile_definitions(
            df, ["g"], "x", levels=(0.501, 0.509)
        ).columns
        assert any(c.startswith("p5010bp_") for c in cols)
        assert any(c.startswith("p5090bp_") for c in cols)
        # true collisions refuse loudly
        with _pytest.raises(ValueError, match="collide"):
            quantile_definitions(df, ["g"], "x", levels=(0.50001, 0.50004))

    def test_ols2_overflow_tripwire(self, spark):
        import pytest as _pytest

        from kubenetmon_spark.operators.stats import ols2_exact

        # genuinely over the budget: 24*n^5*Mx^4*My with Mx=My=1e8,
        # n=3 is ~6e44 >> 5e37
        big = spark.createDataFrame(
            [("g", 10**8, 7, 10**8), ("g", 1, 2, 3), ("g", 5, 9, 11)],
            "g string, x1 long, x2 long, y long",
        )
        with _pytest.raises(Exception, match="product budget"):
            ols2_exact(big, ["g"], "x1", "x2", "y").collect()

    def test_ols2_mixed_scales_compute(self, spark):
        # Regression: the single-M tripwire (n*M <= 2e7) fired on a
        # small-x / fixed-point-y group whose algebra fits decimal(38,0)
        # with digits to spare — it killed the sf0.1 bench via q196.
        # 2e4 rows, Mx <= 96, My ~ 1e4: bound ~ 7e34 of the 5e37 budget.
        from kubenetmon_spark.operators.stats import ols2_exact

        rows = [
            ("g", i % 97, (i * 7) % 89, (i * i) % 10007)
            for i in range(20000)
        ]
        df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
        r = ols2_exact(df, ["g"], "x1", "x2", "y").collect()[0]
        assert r.n == 20000 and int(r.det) != 0
        # exact integer strings reproduce a Python bigint reference
        n = len(rows)
        s1 = sum(x1 for _, x1, _, _ in rows)
        s2 = sum(x2 for _, _, x2, _ in rows)
        sy = sum(y for *_, y in rows)
        s11 = sum(x1 * x1 for _, x1, _, _ in rows)
        s22 = sum(x2 * x2 for _, _, x2, _ in rows)
        s12 = sum(x1 * x2 for _, x1, x2, _ in rows)
        s1y = sum(x1 * y for _, x1, _, y in rows)
        s2y = sum(x2 * y for _, _, x2, y in rows)
        c11, c22 = n * s11 - s1 * s1, n * s22 - s2 * s2
        c12 = n * s12 - s1 * s2
        c1y, c2y = n * s1y - s1 * sy, n * s2y - s2 * sy
        det = c11 * c22 - c12 * c12
        n1 = c1y * c22 - c2y * c12
        n2 = c2y * c11 - c1y * c12
        assert int(r.det) == det
        assert int(r.b1_num) == n1 and int(r.b2_num) == n2
        assert int(r.b0_num) == sy * det - n1 * s1 - n2 * s2


class TestFanout:
    """tables.fanout — the scale-adaptive parallelism floor (r7)."""

    def test_single_partition_input_gets_floored(self, spark):
        from kubenetmon_spark.tables import fanout

        base = spark.range(0, 1000).coalesce(1)
        assert base.rdd.getNumPartitions() == 1
        out = fanout(base, parts=4)
        assert out.rdd.getNumPartitions() == 4
        # layout only — values identical
        assert sorted(r.id for r in out.collect()) == list(range(1000))

    def test_noop_when_input_already_at_floor(self, spark):
        from kubenetmon_spark.tables import fanout

        base = spark.range(0, 100).repartition(4)
        out = fanout(base, parts=4)
        # no repartition node added: the same DataFrame comes back
        assert out is base

    def test_default_floor_is_default_parallelism(self, spark):
        from kubenetmon_spark.tables import fanout

        p = spark.sparkContext.defaultParallelism
        base = spark.range(0, 100).coalesce(1)
        out = fanout(base)
        if p > 1:
            assert out.rdd.getNumPartitions() == p
        else:
            assert out is base

    def test_minhash_results_layout_independent(self, spark):
        # the operator-level guarantee the fanout sites rely on: the
        # same pairs come out whatever the input partition layout
        from kubenetmon_spark.operators.dedup import minhash_lsh_pairs

        rows = [
            (i, "alpha beta gamma delta epsilon zeta eta theta " + str(i % 3))
            for i in range(24)
        ]
        df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
        df8 = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
        got1 = sorted(map(tuple, minhash_lsh_pairs(df1, "doc_id", "text").collect()))
        got8 = sorted(map(tuple, minhash_lsh_pairs(df8, "doc_id", "text").collect()))
        assert got1 == got8 and got1


class TestLocalGraphPath:
    def test_pagerank_driver_path_identical_to_distributed(self, spark):
        """r8: small graphs solve on the driver (exact int64 numpy);
        the two paths must be bit-identical — dense, dangling-node,
        string-node, and chain shapes."""
        import random

        from kubenetmon_spark import tables
        from kubenetmon_spark.operators.graph import pagerank_exact

        rng = random.Random(11)
        cases = {
            "dense": [
                (rng.randrange(40), rng.randrange(40)) for _ in range(800)
            ],
            "dangling": [(1, 2), (2, 3), (3, 1), (4, 1), (5, 9)],
            "strings": [("a", "b"), ("b", "c"), ("c", "a"), ("x", "a")],
            "chain": [(i, i + 1) for i in range(200)],
        }
        for name, edges in cases.items():
            schema = (
                "s string, d string"
                if isinstance(edges[0][0], str)
                else "s long, d long"
            )
            df = spark.createDataFrame(
                [e for e in edges if e[0] != e[1]], schema
            )
            local = sorted(
                (r.node, r.pr)
                for r in pagerank_exact(df, "s", "d", iterations=7).collect()
            )
            saved = tables.DRIVER_SOLVE_CELLS
            tables.DRIVER_SOLVE_CELLS = 0  # force the distributed loop
            try:
                dist = sorted(
                    (r.node, r.pr)
                    for r in pagerank_exact(
                        df, "s", "d", iterations=7
                    ).collect()
                )
            finally:
                tables.DRIVER_SOLVE_CELLS = saved
            assert local == dist, name

    def test_bfs_driver_paths_identical_to_distributed(self, spark):
        """r8: k_hop_reachability and temporal_reachability solve on
        the driver under the edge limit; outputs must be bit-identical
        to the distributed loops — including the SQL null quirks (a
        NULL destination re-enters visited every level because the
        anti-join's null comparison never matches; NULL src/ts edges
        and NULL arrivals relax nothing; NULL nodes group as one)."""
        import random

        from kubenetmon_spark import tables
        from kubenetmon_spark.operators.graph import (
            k_hop_reachability,
            temporal_reachability,
        )

        rng = random.Random(23)
        dense = [(rng.randrange(30), rng.randrange(30)) for _ in range(300)]
        cases = {
            "dense": (dense, [0, 7]),
            "chain": ([(i, i + 1) for i in range(60)], [0]),
            "strings": (
                [("a", "b"), ("b", "c"), ("c", None), ("x", "a")],
                ["a", None],
            ),
            "null_dst_cycle": ([(1, 2), (2, None), (2, 1)], [1]),
        }
        for name, (edges, seed_nodes) in cases.items():
            schema = (
                "s string, d string"
                if any(isinstance(v, str) for e in edges for v in e)
                else "s long, d long"
            )
            edf = spark.createDataFrame(edges, schema)
            sdf = spark.createDataFrame(
                [(s,) for s in seed_nodes], schema.split(",")[0].replace("s ", "node ")
            )
            local = sorted(
                ((r["node"], r["hops"]) for r in
                 k_hop_reachability(edf, "s", "d", sdf, 4).collect()),
                key=lambda t: (t[0] is None, str(t[0]), t[1]),
            )
            saved = tables.DRIVER_SOLVE_CELLS
            tables.DRIVER_SOLVE_CELLS = 0
            try:
                dist = sorted(
                    ((r["node"], r["hops"]) for r in
                     k_hop_reachability(edf, "s", "d", sdf, 4).collect()),
                    key=lambda t: (t[0] is None, str(t[0]), t[1]),
                )
            finally:
                tables.DRIVER_SOLVE_CELLS = saved
            assert local == dist, name

        tcases = {
            "basic": (
                [(1, 2, 10), (2, 3, 20), (3, 4, 15), (1, 3, 5)],
                [(1, 0), (9, 100)],
            ),
            "null_mix": (
                [(1, 2, 10), (2, None, 20), (None, 3, 5), (1, 3, None)],
                [(1, 0), (None, 7), (5, None)],
            ),
            "ties_and_resets": (
                [(1, 2, 10), (1, 2, 10), (2, 1, 10), (2, 3, 9)],
                [(1, 10), (1, 12)],
            ),
            # randomized null-heavy shape: exercises the vectorized
            # driver path's factorize/null-slot remap and per-round
            # min-fold at a size where every branch sees real data
            "dense_nulls": (
                [
                    (
                        None if (7 * i) % 41 == 0 else (3 * i) % 29,
                        None if (5 * i) % 37 == 0 else (11 * i) % 29,
                        None if (13 * i) % 43 == 0 else (i * i) % 97,
                    )
                    for i in range(400)
                ],
                [(0, 3), (0, None), (None, 1), (28, 50)],
            ),
        }
        for name, (edges, seeds) in tcases.items():
            edf = spark.createDataFrame(edges, "s long, d long, ts long")
            sdf = spark.createDataFrame(seeds, "node long, arrival long")
            local = sorted(
                ((r["node"], r["arrival"]) for r in
                 temporal_reachability(edf, "s", "d", "ts", sdf, 4).collect()),
                key=lambda t: (t[0] is None, str(t[0])),
            )
            saved = tables.DRIVER_SOLVE_CELLS
            tables.DRIVER_SOLVE_CELLS = 0
            try:
                dist = sorted(
                    ((r["node"], r["arrival"]) for r in
                     temporal_reachability(edf, "s", "d", "ts", sdf, 4).collect()),
                    key=lambda t: (t[0] is None, str(t[0])),
                )
            finally:
                tables.DRIVER_SOLVE_CELLS = saved
            assert local == dist, name

    def test_connected_components_driver_path_identical(self, spark):
        """r8: small integral-node graphs simulate the min-label
        propagation on the driver — labels, convergence, and the
        max_iter RuntimeError must match the distributed loop."""
        import random

        import pytest

        from kubenetmon_spark import tables
        from kubenetmon_spark.operators.graph import connected_components

        rng = random.Random(41)
        cases = [
            [(rng.randrange(50), rng.randrange(50)) for _ in range(200)],
            [(1, 2), (3, 4), (5, 6), (2, 3)],           # two components
            [(i, i + 1) for i in range(12)],             # chain
        ]
        for edges in cases:
            df = spark.createDataFrame(edges, "src long, dst long")
            local = sorted(map(tuple, connected_components(df).collect()))
            saved = tables.DRIVER_SOLVE_CELLS
            tables.DRIVER_SOLVE_CELLS = 0
            try:
                dist = sorted(
                    map(tuple, connected_components(df).collect())
                )
            finally:
                tables.DRIVER_SOLVE_CELLS = saved
            assert local == dist
        # non-convergence raises identically (min label moves 1 hop per
        # round; a 12-chain cannot converge in 3 rounds either way)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=3)
        saved = tables.DRIVER_SOLVE_CELLS
        tables.DRIVER_SOLVE_CELLS = 0
        try:
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components(chain, max_iter=3)
        finally:
            tables.DRIVER_SOLVE_CELLS = saved
        # string nodes take the distributed loop (unchanged pre-r8
        # behavior: the convergence sum's decimal cast rejects
        # non-numeric ids under ANSI — the driver path must NOT widen
        # the operator's domain, only speed up the working one)
        sdf = spark.createDataFrame(
            [("a", "b"), ("c", "d")], "src string, dst string"
        )
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            connected_components(sdf).collect()

    def test_pagerank_driver_path_null_nodes(self, spark, monkeypatch):
        """A NULL node keeps the teleport share alone on both paths:
        the distributed joins miss on NULL, so an edge from a NULL
        source passes no rank and a NULL destination receives none."""
        from kubenetmon_spark import tables
        from kubenetmon_spark.operators.graph import pagerank_exact

        df = spark.createDataFrame(
            [(1, None), (None, 2), (1, 2), (2, 3), (3, 1)], "s long, d long"
        )

        def ranks():
            return sorted(
                map(tuple, pagerank_exact(df, "s", "d", iterations=4).collect()),
                key=str,
            )

        local = ranks()
        monkeypatch.setattr(tables, "DRIVER_SOLVE_CELLS", 0)
        assert local == ranks()
        base = 1_000_000_000 * 15 // (100 * 4)
        assert (None, base) in local

    def test_driver_table_boundary_takes_each_side(self, spark, monkeypatch):
        """driver_table moves a frame of exactly cap rows and refuses
        one row more; connected_components and pagerank_exact give the
        same output with their graph exactly at the cap (driver) and
        one row over it (distributed)."""
        import kubenetmon_spark.operators.graph as G
        from kubenetmon_spark import tables

        # the real ceiling: 4096 cells a row leaves room for 1024 rows
        assert tables.DRIVER_SOLVE_CELLS // 4096 == 1024
        tbl = tables.driver_table(spark.range(1024), 4096)
        assert tbl is not None and tbl.num_rows == 1024
        assert tables.driver_table(spark.range(1025), 4096) is None
        # patched small: 7 cells at 2 a row is a cap of 3 rows
        monkeypatch.setattr(tables, "DRIVER_SOLVE_CELLS", 7)
        assert tables.driver_table(spark.range(3), 2).num_rows == 3
        assert tables.driver_table(spark.range(4), 2) is None

        probes = []

        def spy(df, row_cells):
            t = tables.driver_table(df, row_cells)
            probes.append(None if t is None else t.num_rows)
            return t

        monkeypatch.setattr(G, "driver_table", spy)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (7, 7), (8, 4)],
            "src long, dst long",
        )
        ops = {
            "cc": lambda: sorted(map(tuple, G.connected_components(edges).collect())),
            "pr": lambda: sorted(
                map(tuple, G.pagerank_exact(edges, iterations=5).collect())
            ),
        }
        for name, op in ops.items():
            monkeypatch.setattr(tables, "DRIVER_SOLVE_CELLS", 1 << 22)
            probes.clear()
            op()
            rows = probes[0]  # the probed graph's row count
            monkeypatch.setattr(tables, "DRIVER_SOLVE_CELLS", 2 * rows)
            probes.clear()
            at_cap = op()
            assert probes == [rows], name
            monkeypatch.setattr(tables, "DRIVER_SOLVE_CELLS", 2 * rows - 1)
            probes.clear()
            over = op()
            assert probes == [None], name
            assert at_cap == over and at_cap, name


class TestJvmCurationPass:
    """The curation chain (shingling, MinHash-LSH, clusters) and the
    driver-built frames it ends in stay in the JVM."""

    PYTHON_NODES = ("PythonRDD", "MapInPandas", "ArrowEvalPython")

    def test_shingle_set_tokenizes_on_java_whitespace(self, spark):
        import re

        from kubenetmon_spark.operators.dedup import shingle_set

        rows = [
            (1, "a\xa0b c d"),  # NBSP is not whitespace to Java's \s
            (2, "\tfoo bar baz"),  # trim() strips spaces only
            (3, "a b"),  # fewer than 3 tokens
            (4, ""),
            (5, None),
            (6, "x y z x y z\x0b"),  # repeated grams, trailing \v
            (7, "p\u2028q r s"),  # U+2028 is not whitespace either
        ]
        java_ws = re.compile(r"[ \t\n\x0B\f\r]+")
        want = []
        for doc_id, text in rows:
            if text is None:
                continue
            toks = java_ws.split(text.strip(" "))
            grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
            want += [(doc_id, g) for g in dict.fromkeys(grams)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = [tuple(r) for r in shingle_set(docs, "doc_id", "text").collect()]
        assert sorted(got) == sorted(want)
        assert (1, "a\xa0b c d") in got and (2, " foo bar") in got

    def test_local_df_is_one_jvm_partition(self, spark):
        from datetime import datetime

        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        from kubenetmon_spark.tables import local_df

        rows = [
            (2**62 + 1, "a", datetime(2024, 1, 2, 3, 4, 5)),
            (None, "b", None),
            (7, None, datetime(1999, 12, 31, 23, 59, 59, 999999)),
        ]
        ddl = "v long, s string, t timestamp"
        struct = StructType(
            [
                StructField("v", LongType()),
                StructField("s", StringType()),
                StructField("t", TimestampType()),
            ]
        )
        for schema in (ddl, struct):
            df = local_df(spark, rows, schema)
            assert df.rdd.getNumPartitions() == 1
            lineage = df._jdf.queryExecution().toRdd().toDebugString()
            assert "PythonRDD" not in lineage
            assert df.schema == struct
            assert [tuple(r) for r in df.collect()] == rows
        assert local_df(spark, [], ddl).collect() == []

    def test_curation_chain_starts_no_python_worker(self, spark, monkeypatch):
        from kubenetmon_spark.operators.dedup import minhash_lsh_pairs
        from kubenetmon_spark.operators.graph import duplicate_clusters
        from kubenetmon_spark.operators.text import with_quality

        plans = []

        def record(df):
            qe = df._jdf.queryExecution()
            plans.append(
                qe.executedPlan().toString() + qe.toRdd().toDebugString()
            )

        docs = spark.range(24).selectExpr(
            "id AS doc_id",
            "concat('alpha beta gamma delta epsilon zeta eta theta ', id % 3)"
            " AS text",
        )
        # every frame the operators materialize passes through here
        frame_cls = type(docs)
        checkpoint = frame_cls.localCheckpoint

        def recording_checkpoint(self, *args, **kwargs):
            record(self)
            return checkpoint(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
        q = with_quality(docs, "text")
        kept = q.filter(F.col("n_tokens") > 0).select("doc_id", "text")
        pairs = minhash_lsh_pairs(kept, "doc_id", "text")
        clusters = duplicate_clusters(pairs)
        for df in (q, pairs, clusters):
            record(df)
        assert clusters.count() == 24
        assert len(plans) > 3  # the operators' own checkpoints were seen
        for plan in plans:
            for node in self.PYTHON_NODES:
                assert node not in plan, plan
