"""Tests for funnel analysis (windowFunnel/sequenceCount analogues),
blocked fuzzy matching, and semantic dedup — each checked against an
independent brute-force Python reference on randomized inputs."""

from __future__ import annotations

import datetime as dt
import itertools
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.operators.funnel import sequence_count, window_funnel
from kubenetmon_spark.operators.fuzzy import blocked_levenshtein_pairs

EPOCH = dt.datetime(2024, 1, 1)


def _events_df(spark, rows):
    # rows: (user_id, offset_seconds, event_type)
    return spark.createDataFrame(
        [(u, EPOCH + dt.timedelta(seconds=s), t) for u, s, t in rows],
        "user_id long, ts timestamp, event_type string",
    )


def _brute_funnel(rows, steps, window_s):
    """Exists-a-chain reference: try every combination (tiny inputs)."""
    by_user: dict[int, list[tuple[int, str]]] = {}
    for u, s, t in rows:
        if t in steps:
            by_user.setdefault(u, []).append((s, t))
    out = {}
    for u, evs in by_user.items():
        best = 0
        for lvl in range(len(steps), 0, -1):
            found = False
            pools = [
                sorted(s for s, t in evs if t == steps[i]) for i in range(lvl)
            ]
            for combo in itertools.product(*pools):
                if all(combo[i] < combo[i + 1] for i in range(lvl - 1)) and (
                    combo[-1] - combo[0] <= window_s
                ):
                    found = True
                    break
            if found:
                best = lvl
                break
        out[u] = best
    return out


class TestWindowFunnel:
    def test_basic_chain(self, spark):
        rows = [
            (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),  # full
            (2, 0, "view"), (2, 10, "click"),                        # level 2
            (3, 0, "click"), (3, 10, "purchase"),                    # no view
            (4, 0, "view"), (4, 5000, "click"),                      # window miss
        ]
        got = {
            r["user_id"]: r["funnel_level"]
            for r in window_funnel(
                _events_df(spark, rows), ["view", "click", "purchase"], 100
            ).collect()
        }
        assert got == {1: 3, 2: 2, 3: 0, 4: 1}

    def test_equal_timestamps_never_chain(self, spark):
        rows = [(1, 0, "view"), (1, 0, "click"), (1, 1, "click")]
        got = window_funnel(
            _events_df(spark, rows), ["view", "click"], 100
        ).collect()
        assert got[0]["funnel_level"] == 2  # via the t=1 click, not the tie

    def test_window_binds_to_chain_start(self, spark):
        # Late restart: the second view starts a fresh chain whose window
        # accommodates the purchase — max-start DP must pick it up.
        rows = [
            (1, 0, "view"), (1, 10, "click"),
            (1, 200, "view"), (1, 210, "click"), (1, 250, "purchase"),
        ]
        got = window_funnel(
            _events_df(spark, rows), ["view", "click", "purchase"], 60
        ).collect()
        assert got[0]["funnel_level"] == 3

    def test_randomized_against_brute_force(self, spark):
        rng = random.Random(7)
        steps = ["a", "b", "c"]
        rows = []
        for u in range(12):
            n = rng.randint(0, 12)
            offs = rng.sample(range(0, 500), n)
            for s in offs:
                rows.append((u, s, rng.choice(["a", "b", "c", "x"])))
        expected = _brute_funnel(rows, steps, 120)
        got = {
            r["user_id"]: r["funnel_level"]
            for r in window_funnel(_events_df(spark, rows), steps, 120).collect()
        }
        assert got == expected

    def test_duplicate_steps_rejected(self, spark):
        with pytest.raises(ValueError):
            window_funnel(_events_df(spark, []), ["a", "a"], 10)


class TestSequenceCount:
    def test_counts_then_events_with_prior_first(self, spark):
        rows = [
            (1, 0, "view"),
            (1, 10, "purchase"),   # counts
            (1, 20, "purchase"),   # counts (same view)
            (1, 4000, "purchase"), # window miss
            (2, 5, "purchase"),    # no prior view
            (2, 6, "view"),
        ]
        got = {
            r["user_id"]: r["n_conversions"]
            for r in sequence_count(
                _events_df(spark, rows), "view", "purchase", 100
            ).collect()
        }
        assert got == {1: 2}

    def test_tie_does_not_mask_earlier_first(self, spark):
        # view@0, then view@10 and purchase@10 tie: the purchase must
        # still convert via the strictly-earlier view@0.
        rows = [(1, 0, "view"), (1, 10, "view"), (1, 10, "purchase")]
        got = sequence_count(_events_df(spark, rows), "view", "purchase", 100)
        assert got.collect()[0]["n_conversions"] == 1

    def test_randomized_against_reference(self, spark):
        rng = random.Random(11)
        rows = []
        for u in range(10):
            for s in rng.sample(range(0, 300), rng.randint(0, 15)):
                rows.append((u, s, rng.choice(["view", "purchase", "x"])))
        W = 50
        expected: dict[int, int] = {}
        for u, s, t in rows:
            if t != "purchase":
                continue
            if any(
                f_t == "view" and f_s < s and s - f_s <= W
                for f_u, f_s, f_t in rows
                if f_u == u
            ):
                expected[u] = expected.get(u, 0) + 1
        got = {
            r["user_id"]: r["n_conversions"]
            for r in sequence_count(
                _events_df(spark, rows), "view", "purchase", W
            ).collect()
        }
        assert got == expected


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TestFuzzyPairs:
    def test_matches_python_levenshtein(self, spark):
        words = [
            "small ring", "smell ring", "red ring", "red king", "blue bolt",
            "blue belt", "blue bolts", "green anvil", "grain anvil",
        ]
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "id long, name string"
        )
        got = {
            (r["a_id"], r["b_id"]): r["distance"]
            for r in blocked_levenshtein_pairs(
                df, "id", "name", F.element_at(F.split("name", " "), 2), 3
            ).collect()
        }
        expected = {}
        for i, j in itertools.combinations(range(len(words)), 2):
            if words[i].split()[1] != words[j].split()[1]:
                continue
            d = _py_lev(words[i], words[j])
            if d <= 3:
                expected[(i, j)] = d
        assert got == expected

    def test_blocking_prunes_cross_block_pairs(self, spark):
        df = spark.createDataFrame(
            [(0, "a ring"), (1, "a rings")], "id long, name string"
        )
        # distance 1 but different blocks -> no pair
        out = blocked_levenshtein_pairs(
            df, "id", "name", F.element_at(F.split("name", " "), 2), 3
        )
        assert out.count() == 0


class TestSortedNeighborhood:
    """sorted_neighborhood_pairs: the linear member of the fuzzy
    family — matches a Python re-implementation of the merge/purge
    neighborhood exactly, and a wide window recovers every
    blocked-exact pair (window >= block size => identical answers)."""

    WORDS = [
        "small ring", "smell ring", "red ring", "red king", "blue bolt",
        "blue belt", "blue bolts", "green anvil", "grain anvil",
        "smoll ring", "rad ring",
    ]

    def _py_expected(self, words, window, max_d=3):
        by_block: dict[str, list[tuple[str, int]]] = {}
        for i, w in enumerate(words):
            by_block.setdefault(w.split()[1], []).append((w, i))
        exp = {}
        for members in by_block.values():
            members.sort()  # (text, id) — the operator's sort order
            for pos, (wa, ia) in enumerate(members):
                for (wb, ib) in members[pos + 1 : pos + 1 + window]:
                    d = _py_lev(wa, wb)
                    if d <= max_d:
                        exp[(min(ia, ib), max(ia, ib))] = d
        return exp

    def _run(self, spark, window):
        from kubenetmon_spark.operators.fuzzy import (
            sorted_neighborhood_pairs,
        )

        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(self.WORDS)],
            "id long, name string",
        )
        return {
            (r["a_id"], r["b_id"]): r["distance"]
            for r in sorted_neighborhood_pairs(
                df, "id", "name",
                F.element_at(F.split("name", " "), 2), 3, window=window,
            ).collect()
        }

    def test_matches_python_neighborhood(self, spark):
        for window in (1, 2, 8):
            assert self._run(spark, window) == self._py_expected(
                self.WORDS, window
            ), f"window={window}"

    def test_wide_window_equals_blocked_exact(self, spark):
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(self.WORDS)],
            "id long, name string",
        )
        exact = {
            (r["a_id"], r["b_id"]): r["distance"]
            for r in blocked_levenshtein_pairs(
                df, "id", "name", F.element_at(F.split("name", " "), 2), 3
            ).collect()
        }
        assert self._run(spark, window=len(self.WORDS)) == exact

    def test_partitioning_independent(self, spark):
        from kubenetmon_spark.operators.fuzzy import (
            sorted_neighborhood_pairs,
        )

        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(self.WORDS)],
            "id long, name string",
        ).repartition(7)
        got = {
            (r["a_id"], r["b_id"]): r["distance"]
            for r in sorted_neighborhood_pairs(
                df, "id", "name",
                F.element_at(F.split("name", " "), 2), 3, window=2,
            ).collect()
        }
        assert got == self._py_expected(self.WORDS, 2)


class TestSemanticDedup:
    def test_matches_numpy_greedy(self, spark):
        from kubenetmon_spark.operators.dedup import semantic_dedup

        rng = np.random.default_rng(3)
        base = rng.normal(size=(4, 8))
        rows = []
        vid = 0
        for c in range(4):
            for _ in range(10):
                v = base[c] + rng.normal(scale=0.05, size=8)
                rows.append((vid, v.tolist()))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = base.copy()
        got = semantic_dedup(df, cents, threshold=0.995)
        got_rows = {r["vec_id"]: (r["cluster"], r["keep"]) for r in got.collect()}

        # independent reference
        V = np.array([r[1] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        d = -2 * (V @ cents.T) + (cents * cents).sum(axis=1)
        assign = d.argmin(axis=1)
        expected = {}
        for c in np.unique(assign):
            ids = np.where(assign == c)[0]
            kept: list[int] = []
            for i in ids:
                ms = max((Vn[i] @ Vn[j] for j in kept), default=-1.0)
                keep = ms < 0.995
                if keep:
                    kept.append(i)
                expected[i] = (c, keep)
        assert got_rows == expected

    def test_zero_vector_safe(self, spark):
        from kubenetmon_spark.operators.dedup import semantic_dedup

        df = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = semantic_dedup(df, np.array([[1.0, 0.0]]), threshold=0.99).collect()
        kept = {r["vec_id"]: r["keep"] for r in out}
        assert kept[0] and kept[1] and not kept[2]


class TestEmptyInputs:
    """Empty-input robustness, matching the engine-wide contract that
    every operator accepts an empty (but well-typed) DataFrame."""

    def test_window_funnel_empty(self, spark):
        out = window_funnel(_events_df(spark, []), ["a", "b"], 10)
        assert out.count() == 0
        assert out.columns == ["user_id", "funnel_level"]

    def test_sequence_count_empty(self, spark):
        assert sequence_count(_events_df(spark, []), "a", "b", 10).count() == 0

    def test_fuzzy_pairs_empty(self, spark):
        df = spark.createDataFrame([], "id long, name string")
        out = blocked_levenshtein_pairs(
            df, "id", "name", F.element_at(F.split("name", " "), 1), 2
        )
        assert out.count() == 0
        assert out.columns == ["block", "a_id", "b_id", "distance"]

    def test_semantic_dedup_empty(self, spark):
        from kubenetmon_spark.operators.dedup import semantic_dedup

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        out = semantic_dedup(df, np.array([[1.0, 0.0]]), threshold=0.9)
        assert out.count() == 0

    def test_zorder_key_empty(self, spark):
        from kubenetmon_spark.operators.zorder import with_zorder_key

        df = spark.createDataFrame([], "x long, y long")
        assert with_zorder_key(df, ["x", "y"]).count() == 0

    def test_replacing_collapsing_empty(self, spark):
        from kubenetmon_spark.operators.mergetree import (
            collapsing_aggregate,
            replacing_aggregate,
        )

        df = spark.createDataFrame([], "k string, ver long, val long")
        assert replacing_aggregate(df, ["k"], "ver").count() == 0
        dfc = spark.createDataFrame([], "k string, sign int, val long")
        assert collapsing_aggregate(dfc, ["k"], "sign", ["val"]).count() == 0


class TestSequenceNextNode:
    def _df(self, spark, rows):
        from datetime import datetime, timedelta

        t0 = datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                (u, t0 + timedelta(seconds=s), tp, i)
                for i, (u, s, tp) in enumerate(rows)
            ],
            ["user_id", "ts", "event_type", "event_id"],
        )

    def test_consecutive_chain_required(self, spark):
        from kubenetmon_spark.operators.funnel import sequence_next_node

        rows = [
            (1, 0, "signup"), (1, 1, "click"), (1, 2, "buy"),     # match -> buy
            (2, 0, "signup"), (2, 1, "view"), (2, 2, "click"),    # not adjacent
            (2, 3, "pay"),
            (3, 0, "signup"), (3, 1, "click"),                    # nothing after
        ]
        got = {
            r.user_id: r.next_node
            for r in sequence_next_node(
                self._df(spark, rows), ["signup", "click"]
            ).collect()
        }
        assert got == {1: "buy"}

    def test_first_match_wins(self, spark):
        from kubenetmon_spark.operators.funnel import sequence_next_node

        rows = [
            (1, 0, "signup"), (1, 1, "click"), (1, 2, "A"),
            (1, 3, "signup"), (1, 4, "click"), (1, 5, "B"),
        ]
        got = sequence_next_node(self._df(spark, rows), ["signup", "click"]).collect()
        assert len(got) == 1 and got[0].next_node == "A"


class TestStrictOrderFunnel:
    def _df(self, spark, rows):
        from datetime import datetime, timedelta

        t0 = datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                (u, t0 + timedelta(seconds=s), tp, i)
                for i, (u, s, tp) in enumerate(rows)
            ],
            ["user_id", "ts", "event_type", "event_id"],
        )

    def test_interruption_blocks_chain(self, spark):
        from kubenetmon_spark.operators.funnel import (
            window_funnel,
            window_funnel_strict_order,
        )

        rows = [
            (1, 0, "a"), (1, 1, "b"), (1, 2, "c"),          # adjacent: full
            (2, 0, "a"), (2, 1, "x"), (2, 2, "b"), (2, 3, "c"),  # interrupted
        ]
        df = self._df(spark, rows)
        strict = {
            r.user_id: r.funnel_level
            for r in window_funnel_strict_order(df, ["a", "b", "c"], 3600).collect()
        }
        loose = {
            r.user_id: r.funnel_level
            for r in window_funnel(df, ["a", "b", "c"], 3600).collect()
        }
        assert strict[1] == 3 and strict[2] == 1   # x breaks adjacency
        assert loose[2] == 3                        # default mode tolerates x

    def test_window_bound_applies(self, spark):
        from kubenetmon_spark.operators.funnel import window_funnel_strict_order

        rows = [(1, 0, "a"), (1, 5000, "b")]
        got = window_funnel_strict_order(
            self._df(spark, rows), ["a", "b"], 3600
        ).collect()
        assert got[0].funnel_level == 1  # adjacent but outside the window


class TestSequenceMatchTimed:
    def _df(self, spark, rows):
        from datetime import datetime, timedelta

        t0 = datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                (u, t0 + timedelta(seconds=s), tp, i)
                for i, (u, s, tp) in enumerate(rows)
            ],
            ["user_id", "ts", "event_type", "event_id"],
        )

    @staticmethod
    def _brute(rows, steps, gaps):
        """O(n^k) chain existence per user."""
        from collections import defaultdict

        per_user = defaultdict(list)
        for u, s, tp in rows:
            per_user[u].append((s, tp))
        out = {}
        for u, evs in per_user.items():
            evs.sort()

            def extend(prev_t, idx):
                if idx == len(steps):
                    return True
                for s, tp in evs:
                    if tp != steps[idx]:
                        continue
                    if prev_t is not None:
                        if s <= prev_t or s - prev_t > gaps[idx - 1]:
                            continue
                    if extend(s, idx + 1):
                        return True
                return False

            out[u] = extend(None, 0)
        return out

    def test_adjacent_gap_bounds(self, spark):
        from kubenetmon_spark.operators.funnel import sequence_match_timed

        rows = [
            # u1: a..b gap 10 ok, b..c gap 100 > 50 -> no
            (1, 0, "a"), (1, 10, "b"), (1, 110, "c"),
            # u2: c is out of range of the first b but a later b (still
            # within the a-gap) rescues the chain — the greedy max case
            (2, 0, "a"), (2, 10, "b"), (2, 15, "b"), (2, 62, "c"),
            # u3: gap from FIRST a too big but later a works (greedy max)
            (3, 0, "a"), (3, 95, "a"), (3, 100, "b"), (3, 120, "c"),
            # u4: all in order, all within bounds
            (4, 0, "a"), (4, 5, "b"), (4, 30, "c"),
        ]
        df = self._df(spark, rows)
        got = {
            r.user_id: r.matched
            for r in sequence_match_timed(
                df, ["a", "b", "c"], [20, 50]
            ).collect()
        }
        want = self._brute(rows, ["a", "b", "c"], [20, 50])
        assert got == want
        assert got[1] is False and got[2] is True
        assert got[3] is True and got[4] is True

    def test_randomized_vs_brute_force(self, spark):
        import random

        from kubenetmon_spark.operators.funnel import sequence_match_timed

        rng = random.Random(20260814)
        rows = []
        for u in range(30):
            n = rng.randint(0, 12)
            times = sorted(rng.sample(range(0, 500), n))
            for s in times:
                rows.append((u, s, rng.choice("abcx")))
        df = self._df(spark, rows)
        gaps = [60, 120]
        got = {
            r.user_id: r.matched
            for r in sequence_match_timed(df, ["a", "b", "c"], gaps).collect()
        }
        want = self._brute(rows, ["a", "b", "c"], gaps)
        # operator only emits users having at least one step event
        for u, m in got.items():
            assert m == want[u], u
        for u, m in want.items():
            if m:
                assert got.get(u) is True, u


class TestWindowFunnelDurations:
    def _brute_min_dur(self, rows, steps, window):
        # min over all valid strictly-increasing in-window chains
        from itertools import product

        by_user = {}
        for u, t, tp in rows:
            by_user.setdefault(u, []).append((t, tp))
        out = {}
        for u, evs in by_user.items():
            per_step = [
                sorted(t for t, tp in evs if tp == s) for s in steps
            ]
            best = None
            for chain in product(*per_step):
                if all(b > a for a, b in zip(chain, chain[1:])) and (
                    chain[-1] - chain[0] <= window
                ):
                    d = chain[-1] - chain[0]
                    best = d if best is None else min(best, d)
            if best is not None:
                out[u] = best
        return out

    def test_matches_brute_force(self, spark):
        import random

        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.funnel import (
            window_funnel_durations,
        )

        for seed in (5, 9):
            rng = random.Random(seed)
            rows = [
                (
                    rng.randrange(6),
                    rng.randrange(0, 400),
                    rng.choice(["a", "b", "c", "x"]),
                )
                for _ in range(150)
            ]
            df = spark.createDataFrame(
                rows, "user_id long, t long, event_type string"
            ).withColumn("ts", F.timestamp_seconds(F.col("t")))
            got = {
                r.user_id: r.min_convert_us
                for r in window_funnel_durations(
                    df, ["a", "b", "c"], window_seconds=120
                ).collect()
                if r.min_convert_us is not None
            }
            want = {
                u: d * 1_000_000
                for u, d in self._brute_min_dur(
                    rows, ["a", "b", "c"], 120
                ).items()
            }
            assert got == want, seed
