"""bench.py's round-over-round adjudication plumbing (VERDICT r05 #6).

The timing loop itself runs only in a real bench; what must not rot
silently is the record-keeping — the formatter and the PLAN_AUDIT.md
section rewrite (idempotent, replaces its own tail, never someone
else's content).
"""

from __future__ import annotations

from bench import (
    ADJUDICATION_MARKER,
    _write_adjudications_to_plan_audit,
    format_round_adjudications,
)

DETAIL = {
    "round_baseline": "BENCH_r05.json",
    "round_adjudications": [
        {
            "q": "q294_temporal_reachability",
            "prev": 8.14,
            "first": 9.61,
            "now": 8.2,
            "verdict": "noise",
        },
        {
            "q": "q999_example",
            "prev": 5.0,
            "first": 7.0,
            "now": 6.8,
            "verdict": "regression",
        },
    ],
}


def test_formatter_carries_verdicts_and_numbers():
    s = format_round_adjudications(DETAIL)
    assert ADJUDICATION_MARKER in s
    assert "BENCH_r05.json" in s
    assert "q294_temporal_reachability: prev 8.14s" in s
    assert "NOISE" in s and "REGRESSION" in s
    assert format_round_adjudications({"round_adjudications": []}) == ""


def test_plan_audit_rewrite_is_idempotent(tmp_path):
    audit = tmp_path / "PLAN_AUDIT.md"
    base = "# PLAN AUDIT\n\n- q1: fine\n"
    audit.write_text(base)
    _write_adjudications_to_plan_audit(DETAIL, audit)
    once = audit.read_text()
    assert once.startswith("# PLAN AUDIT")
    assert once.count(ADJUDICATION_MARKER) == 1
    # re-running replaces the section instead of stacking a second copy
    _write_adjudications_to_plan_audit(DETAIL, audit)
    assert audit.read_text().count(ADJUDICATION_MARKER) == 1
    assert "- q1: fine" in audit.read_text()
    # empty adjudication list leaves the file untouched
    before = audit.read_text()
    _write_adjudications_to_plan_audit(
        {"round_adjudications": []}, audit
    )
    assert audit.read_text() == before


class TestLoadRoundBaseline:
    """Round 6: the round check read the driver's BENCH_r{N}.json as if
    it were the bench's own JSON — but the driver wraps that line as
    {n, rc, cpus, sf, tail, parsed: {...}}, so queries read empty and
    the check silently adjudicated NOTHING all of round 5. The loader
    must handle both formats and refuse a different scale factor."""

    def _write(self, tmp_path, name, doc):
        import json

        (tmp_path / name).write_text(json.dumps(doc))

    def test_unwraps_driver_wrapper(self, tmp_path):
        from bench import load_round_baseline

        self._write(
            tmp_path,
            "BENCH_r05.json",
            {
                "n": 5, "rc": 0, "cpus": 32, "sf": 0.1, "tail": "...",
                "parsed": {
                    "sf": 0.1,
                    "queries": {"q315_streaming_rates": 16.8},
                },
            },
        )
        name, qs = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r05.json"
        assert qs == {"q315_streaming_rates": 16.8}

    def test_reads_bare_bench_format(self, tmp_path):
        from bench import load_round_baseline

        self._write(
            tmp_path,
            "BENCH_r04.json",
            {"sf": 0.1, "queries": {"q34_streaming_pipeline": 12.5}},
        )
        name, qs = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r04.json"
        assert qs == {"q34_streaming_pipeline": 12.5}

    def test_newest_round_wins(self, tmp_path):
        from bench import load_round_baseline

        self._write(tmp_path, "BENCH_r02.json", {"sf": 0.1, "queries": {"a": 1.0}})
        self._write(tmp_path, "BENCH_r10.json", {"sf": 0.1, "queries": {"b": 2.0}})
        name, qs = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r10.json" and qs == {"b": 2.0}

    def test_other_sf_refused(self, tmp_path):
        from bench import load_round_baseline

        self._write(
            tmp_path,
            "BENCH_r05.json",
            {"sf": 0.01, "queries": {"a": 1.0}},
        )
        assert load_round_baseline(tmp_path, 0.1) == ("", {})

    def test_other_parallelism_refused(self, tmp_path):
        """An 8-core run is not read against a 32-core round: the
        loader falls past it (and past a round that recorded neither
        field) to the newest baseline benched like this run."""
        from bench import load_round_baseline

        self._write(
            tmp_path,
            "BENCH_r07.json",
            {"sf": 0.1, "default_parallelism": 8, "master": "local[8]",
             "queries": {"a": 1.0}},
        )
        self._write(
            tmp_path,
            "BENCH_r08.json",
            {"sf": 0.1, "default_parallelism": 32, "master": "local[32]",
             "queries": {"b": 2.0}},
        )
        self._write(tmp_path, "BENCH_r09.json", {"sf": 0.1, "queries": {"c": 3.0}})
        assert load_round_baseline(tmp_path, 0.1, 8, "local[8]") == (
            "BENCH_r07.json",
            {"a": 1.0},
        )
        assert load_round_baseline(tmp_path, 0.1, 32, "local[32]")[0] == (
            "BENCH_r08.json"
        )
        assert load_round_baseline(tmp_path, 0.1, 8, "local[32]") == ("", {})
        assert load_round_baseline(tmp_path, 0.1, 4, "local[4]") == ("", {})

    def test_missing_or_garbage(self, tmp_path):
        from bench import load_round_baseline

        assert load_round_baseline(tmp_path, 0.1) == ("", {})
        (tmp_path / "BENCH_r01.json").write_text("{not json")
        assert load_round_baseline(tmp_path, 0.1) == ("", {})

    def test_repo_committed_wrapper_actually_loads(self):
        """The real committed BENCH_r{N}.json must resolve to a
        non-empty queries map at the bench sf — the exact condition
        whose silent failure this loader fixes."""
        from pathlib import Path

        from bench import load_round_baseline

        name, qs = load_round_baseline(Path(__file__).resolve().parents[1], 0.1)
        assert name.startswith("BENCH_r") and len(qs) > 0

    def test_plan_audit_restores_only_like_run_adjudications(self, tmp_path):
        """The committed BENCH_DETAIL.json is an 8-core record whose
        adjudications were drawn against the 32-core BENCH_r08; the
        rebuilt PLAN_AUDIT section must leave them out, and keep them
        when the baseline they name is the like-for-like one."""
        from pathlib import Path

        from tools.plan_audit import round_adjudication_section

        assert round_adjudication_section(Path(__file__).resolve().parents[1]) == ""
        detail = {**DETAIL, "sf": 0.1, "default_parallelism": 8, "master": "local[8]"}
        self._write(tmp_path, "BENCH_DETAIL.json", detail)
        like = {"sf": 0.1, "default_parallelism": 8, "master": "local[8]", "queries": {"a": 1.0}}
        self._write(tmp_path, "BENCH_r05.json", like)
        assert "q294_temporal_reachability" in round_adjudication_section(tmp_path)
        self._write(tmp_path, "BENCH_r05.json", {**like, "default_parallelism": 32})
        assert round_adjudication_section(tmp_path) == ""

    def test_falls_past_off_sf_round_to_latest_same_sf(self, tmp_path):
        """One round benched at another scale factor must not silently
        disable the check — the loader falls back to the newest
        same-sf baseline."""
        from bench import load_round_baseline

        self._write(tmp_path, "BENCH_r05.json", {"sf": 0.1, "queries": {"a": 1.0}})
        self._write(tmp_path, "BENCH_r06.json", {"sf": 1.0, "queries": {"b": 2.0}})
        name, qs = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r05.json" and qs == {"a": 1.0}


class TestScaleSweepArgs:
    """tools/scale_sweep.py's flag parser must honor BOTH forms the
    usage line advertises (r6 advisor: a bare '--start-at q211' used
    to IndexError and leak the value into SF_DIR)."""

    def _parse(self, argv):
        from tools.scale_sweep import parse_args

        return parse_args(argv)

    def test_equals_and_space_forms_agree(self):
        for argv in (
            ["/sf", "--skip=q1,q2", "--start-at=q5"],
            ["/sf", "--skip", "q1,q2", "--start-at", "q5"],
            ["--skip", "q1,q2", "/sf", "--start-at=q5"],
        ):
            pos, skip, start, only = self._parse(argv)
            assert pos == ["/sf"]
            assert {"q1", "q2"} <= skip
            assert start == "q5"
            assert only == set()

    def test_only_filter(self):
        for argv in (["--only=q321,q118"], ["--only", "q321,q118"]):
            _, _, _, only = self._parse(argv)
            assert only == {"q321", "q118"}

    def test_default_skip_preserved_and_errors_loud(self):
        import pytest

        from tools.scale_sweep import DEFAULT_SKIP

        pos, skip, start, only = self._parse([])
        assert pos == [] and start is None and DEFAULT_SKIP <= skip
        with pytest.raises(SystemExit):
            self._parse(["--start-at"])  # missing value
        with pytest.raises(SystemExit):
            self._parse(["--frobnicate=1"])  # unknown flag


class TestRoundBaselineFullMap:
    """VERDICT r06 #1: the round-over-round check must see ALL queries,
    not just the driver wrapper's 20 slowest — q56/q113 moved 11x/2x in
    r6 without the check firing because neither was in r5's top-20."""

    def _make_round_repo(self, tmp_path, wrapper, detail):
        import json
        import subprocess

        (tmp_path / "BENCH_r05.json").write_text(json.dumps(wrapper))
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))
        for cmd in (
            ["git", "init", "-q"],
            ["git", "add", "-A"],
            ["git", "-c", "user.email=t@t", "-c", "user.name=t",
             "commit", "-qm", "round 5"],
        ):
            subprocess.run(cmd, cwd=tmp_path, check=True)

    def test_non_top20_regression_is_flagged(self, tmp_path):
        from bench import flag_round_moves, load_round_baseline

        wrapper = {"parsed": {"sf": 0.1, "queries": {"q_slow": 10.0}}}
        detail = {
            "sf": 0.1,
            "queries": {"q_slow": 10.0, "q_hidden": 1.0},
        }
        self._make_round_repo(tmp_path, wrapper, detail)
        name, prev = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r05.json"
        # the committed full map widened the wrapper's top-20
        assert prev == {"q_slow": 10.0, "q_hidden": 1.0}
        # a planted 2x move in the NON-top-20 query is now flagged
        assert flag_round_moves(
            prev, {"q_slow": 10.1, "q_hidden": 2.0}
        ) == ["q_hidden"]
        # inside the band (either axis) is not
        assert flag_round_moves(
            prev, {"q_slow": 10.1, "q_hidden": 1.1}
        ) == []

    def test_no_git_falls_back_to_wrapper_top20(self, tmp_path):
        import json

        from bench import load_round_baseline

        (tmp_path / "BENCH_r05.json").write_text(
            json.dumps({"parsed": {"sf": 0.1, "queries": {"q_a": 2.0}}})
        )
        name, prev = load_round_baseline(tmp_path, 0.1)
        assert name == "BENCH_r05.json" and prev == {"q_a": 2.0}

    def test_off_sf_committed_detail_ignored(self, tmp_path):
        from bench import load_round_baseline

        wrapper = {"parsed": {"sf": 0.1, "queries": {"q_a": 2.0}}}
        detail = {"sf": 1.0, "queries": {"q_a": 2.0, "q_b": 9.9}}
        self._make_round_repo(tmp_path, wrapper, detail)
        _, prev = load_round_baseline(tmp_path, 0.1)
        assert prev == {"q_a": 2.0}


class TestDegenerateGate:
    """VERDICT r06 #5: the sweep's DEGENERATE queue is a standing GATE
    — a zero-row query without a DuckDB-verified adjudication in
    tools/degenerate_adjudications.json must turn the sweep red."""

    def test_known_adjudications_present_and_split(self):
        from tools.scale_sweep import load_adjudications, split_adjudicated

        adj = load_adjudications()
        # the standing r6 adjudications survive builder turnover; q118
        # was REMOVED in r7 (the word-suffix corpus rebuild made it
        # non-degenerate, so a future empty q118 must fail the sweep)
        for q in ("q09_unambiguous_dim_guard", "q70_part_value_share"):
            assert q in adj and ("DuckDB" in adj[q] or "sweep" in adj[q])
        assert "q118_curation_pipeline" not in adj
        a, u = split_adjudicated(
            ["q09_unambiguous_dim_guard", "q999_new_gate"], adj
        )
        assert a == ["q09_unambiguous_dim_guard"]
        assert u == ["q999_new_gate"]  # -> exit 1 in main()

    def test_missing_sidecar_means_everything_unadjudicated(self, tmp_path):
        from tools.scale_sweep import load_adjudications, split_adjudicated

        adj = load_adjudications(tmp_path / "nope.json")
        assert adj == {}
        a, u = split_adjudicated(["q1"], adj)
        assert a == [] and u == ["q1"]

    def test_comment_keys_ignored(self, tmp_path):
        import json

        from tools.scale_sweep import load_adjudications

        p = tmp_path / "adj.json"
        p.write_text(json.dumps({"_comment": "x", "q5": "evidence"}))
        assert load_adjudications(p) == {"q5": "evidence"}


class TestBenchOutDir:
    """VERDICT r07 #7: generated bench artifacts route through
    $SPARK_GRAFT_BENCH_OUT so smokes stop clobbering the committed
    closing records at the repo root."""

    def test_default_is_repo_root(self, monkeypatch):
        from pathlib import Path

        import bench

        monkeypatch.delenv("SPARK_GRAFT_BENCH_OUT", raising=False)
        assert bench._out_dir() == Path(bench.__file__).resolve().parent

    def test_env_redirects_and_creates(self, monkeypatch, tmp_path):
        import bench

        out = tmp_path / "scratch" / "bench_out"
        monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
        assert bench._out_dir() == out
        assert out.is_dir()  # created on demand

    def test_adjudications_honor_out_dir(self, monkeypatch, tmp_path):
        """A smoke run's adjudication tail lands in the scratch dir and
        the repo-root PLAN_AUDIT.md is untouched."""
        import bench

        root_audit = tmp_path / "root" / "PLAN_AUDIT.md"
        root_audit.parent.mkdir()
        root_audit.write_text("# committed audit\n")
        out = tmp_path / "out"
        out.mkdir()
        (out / "PLAN_AUDIT.md").write_text("# smoke audit\n")
        monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
        detail = {
            "round_baseline": "BENCH_r99.json",
            "round_adjudications": [
                {
                    "q": "q1",
                    "prev": 1.0,
                    "first": 2.0,
                    "now": 1.1,
                    "verdict": "noise",
                }
            ],
        }
        bench._write_adjudications_to_plan_audit(detail)
        assert "q1" in (out / "PLAN_AUDIT.md").read_text()
        assert (root_audit.read_text() == "# committed audit\n")
