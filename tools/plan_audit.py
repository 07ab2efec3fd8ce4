#!/usr/bin/env python
"""Automated physical-plan audit over the whole gate surface.

Sweeps every gate query at a small scale factor, extracts the
scale-relevant features of each executed plan (join strategies, exchange
counts, codegen spans, scan pushdown) and writes ``PLAN_AUDIT.md`` — the
machine-generated version of SCALE.md's hand audit. `tests/test_plans.py`
*asserts* the invariants for the flagship plans; this report *surveys*
all of them so a regression anywhere is visible at review time.

Flags raised (review prompts, not failures — some have legitimate
explanations, e.g. an intentional range join):
- SMJ: a SortMergeJoin appeared (a dim join lost its broadcast);
- NLJ: a non-broadcast nested-loop join (quadratic without pruning);
- XCHG>=4: four or more hash exchanges (shuffle-heavy shape).

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def audit_plan(plan: str) -> dict:
    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "nlj": plan.count("NestedLoopJoin") - plan.count("BroadcastNestedLoopJoin"),
        "xchg_hash": plan.count("Exchange hashpartitioning"),
        "xchg_range": plan.count("Exchange rangepartitioning"),
        "xchg_single": plan.count("Exchange SinglePartition"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan.split("PushedFilters: [", 1)[0],
        "arrow": ("MapInPandas" in plan)
        or ("FlatMapGroupsInPandas" in plan)
        or ("ArrowEvalPython" in plan),
        "window": plan.count("Window "),
    }


def flags_for(a: dict) -> list[str]:
    out = []
    if a["smj"]:
        out.append("SMJ")
    if a["nlj"] > 0:
        out.append("NLJ")
    if a["xchg_hash"] >= 4:
        out.append(f"XCHG={a['xchg_hash']}")
    return out


#: flags with reviewed explanations (stay flagged, with the reason shown)
KNOWN = {
    "q23_minhash_lsh": "banded candidate join + exact verify join are "
    "separate keyed stages by design (SCALE.md MinHash notes)",
    "q279_minhash_dedup_incremental": "q23's exact plan family (cold-start "
    "single-batch path): band-key candidate self-join + exact-verify "
    "shingle SMJ over DERIVED candidate tables (no pre-AQE stats, no "
    "broadcastable side by construction), then one anti-join of the doc "
    "table against the dropped-id list; ~linear at sf1 (30.5s, same "
    "cost envelope as q23 + anti-join)",
    "q285_cosine_dedup_incremental": "two incremental phases composed "
    "in one gate DAG: each phase is banding (Arrow matmul, eagerly "
    "localCheckpointed) + skinny id-only candidate joins (band-key "
    "self-join and batch-x-index join, SMJ over derived no-stats "
    "tables — q279's exact family) + anti/semi splits; phase-1 "
    "survivors/index are localCheckpointed at the gate to mirror the "
    "parquet persistence boundary of start_cosine_dedup_stream, so "
    "every counted exchange carries candidate-id-sized rows, never "
    "vectors (sign_band_rows ships keys only).",
    "q26_flow_pipeline": "only 2 exchanges are fact-side (summing agg + "
    "query group key, asserted in test_plans.py); the rest build tiny "
    "broadcast dimensions. Standalone count is 11; in a full audit "
    "session the count can read 15 because q34's stream persists the "
    "prepared labeler dims (r05) and q26's plan then carries "
    "InMemoryTableScan dim subtrees — cache-inflated counting, not a "
    "plan change (q26 got FASTER in the same round's bench)",
    "q319_labeler_ipv6": "q26's twin over a mixed v4+v6 stream: the ONLY "
    "fact-side exchanges are the two event-half repartitions (ingest "
    "spreading, same as build_flow_inputs) and the final class agg; the "
    "rest build broadcast dimensions (pods distinct, disjoint v4/v6 "
    "interval sweeps — feed-sized). All labeler joins incl. the v6 LPM "
    "are broadcast (18 BHJ, 0 SMJ; fact side exchange-free through the "
    "join chain, checked via explain_query)",
    "q73_lone_late_shipper": "decorrelated Q21: co-partitioned per-order "
    "aggregates replace a raw-fact broadcast (plan-asserted)",
    "q56_approx_sketches": "r7 distinct-split shape (OPTIMIZATION_r07.md "
    "§4): COUNT(DISTINCT user_id) no longer rides the sketch "
    "aggregation, so the planner's 4-phase Expand rewrite is gone "
    "(~100k HLL/percentile buffers -> 5, 12x isolated A/B). The four "
    "exchanges are the sketch agg's partial/final pair on event_type "
    "plus the exact_users distinct agg and its per-type count — all but "
    "the first carry distinct-user-or-smaller rows, and the count joins "
    "back via a broadcast of <= |event_type| rows",
    "q113_dsir_select": "r6 fixed-point-ln Gumbel path (XCHG 7->4, SMJ "
    "gone): two corpora feature/distribution aggs are the only "
    "exchanges — the raw feature agg carries token volume "
    "(localCheckpointed, runs once), the bucket-distribution aggs carry "
    "<= buckets rows; the fxln ratio table broadcasts back and the "
    "per-doc Gumbel-key projection plus TakeOrderedAndProject ride "
    "exchange-free",
    "q193_line_dedup": "XCHG 4->5 after r5's missing-doc survival path "
    "(dedup_lines): only the line-text window shuffle and the doc-id "
    "reassembly agg carry data volume; the new exchange is the "
    "distinct-id build feeding the BROADCAST anti-join (two id columns, "
    "no text), and the final source rollup + sort ride post-agg row "
    "counts",
    "q221_corpus_pipeline_v3": "same dedup_lines shape as q193 (quality "
    "filter is a scan-side projection): XCHG 4->5 is the id-only "
    "distinct for the broadcast anti-join survival path; data volume "
    "moves only through the line window + doc reassembly",
    "q133_cramers_v": "only the cell-count agg shuffles data volume; the "
    "margin windows and final agg all operate on one row per contingency "
    "cell (<= |a|x|b| per group)",
    "q136_bitmap_family": "only the distinct-triple agg shuffles data "
    "volume; every later exchange carries one row per distinct element "
    "or group (bitmap_aggregate docstring)",
    "q138_association_family": "same contingency-cell shape as "
    "q133_cramers_v: one data-volume cell-count agg, then margin "
    "windows and the final agg on one row per cell",
    "q147_aggregate_odds": "three aggregates over genuinely different "
    "keys (event_type / +x / +user_id) must each shuffle once; the "
    "joins after them are per-event_type rows (broadcast-size)",
    "q188_ngram_search": "same shape as q152_string_similarity: the "
    "SMJ is the per-doc common-count join-back on doc_id (both sides "
    "corpus-cardinality); the probe-gram side broadcasts",
    "q152_string_similarity": "the SMJ is the per-doc common-count "
    "join-back on doc_id — both sides are corpus-cardinality, so a "
    "shuffled join IS the 100 TB plan; the probe-gram side broadcasts",
    "q156_group_array_misc": "distinct-pairs agg, sample rank window, "
    "slot agg, and the final per-group join are four different keys by "
    "design; all post-distinct exchanges carry rows bounded by the "
    "value domain, not the fact table",
    "q158_volume_shipping": "the SMJ is TPC-H Q7's lineitem-orders "
    "join — both sides fact-scale after dim pruning, the textbook "
    "shuffle join; supplier/customer sides broadcast",
    "q165_knn_join": "the SMJ is the probe-x-inverted-list equi-join on "
    "the centroid id — both sides corpus/query-cardinality, the "
    "designed single corpus shuffle (plan-asserted: only centroids "
    "broadcast); assignment agg + top-k window account for the rest",
    "q166_paste_join": "positional zip: each side pays one distributed "
    "range sort for its global index, and the index equi-join of two "
    "equal-cardinality sides is correctly SMJ — no broadcastable side "
    "exists by construction",
    "q168_phrase_search": "the SMJ is the per-source LEFT join of the "
    "corpus against per-doc match counts (both corpus-cardinality); "
    "token-stream exchanges carry only phrase-term hits "
    "(plan-asserted in test_plans.py)",
    "q181_group_array_intersect": "only the per-(user, day) set agg "
    "shuffles data volume; every later exchange (presence counts, day "
    "totals, final intersect) carries at most users x active-days rows "
    "— calendar-bounded, never fact-scale",
    "q182_bigram_perplexity": "LM training and scoring are separate "
    "passes by design (counts must exist before scoring): token lag "
    "window, unigram agg, bigram agg, count joins, per-doc sum — the "
    "lag window and per-doc sum share the doc partitioning, and count "
    "tables are vocabulary-bounded (broadcast at realistic vocab sizes)",
    "q195_period_detect": "every exchange/window runs over the POST-"
    "aggregation series table (#series x #steps rows — thousands, not "
    "facts): idx/mean windows share one sort, the lag join keys on "
    "(series, idx), and the per-lag agg + argmax carry #series x "
    "n_lags rows; the one fact-scale shuffle is the hourly bucket agg",
    "q203_seasonal_forecast": "q195's situation: decompose windows "
    "share one sort over the POST-aggregation series table; the last-"
    "trend argmax, phase profile, and horizon join exchanges each "
    "carry #series(+x period/horizon) rows — the only fact-scale "
    "shuffle is the hourly bucket agg",
    "q204_seasonal_anomalies": "q195's situation: every exchange/"
    "window after the hourly bucket agg runs over #series x #steps "
    "rows (profile join, residual windows, final rollup) — thousands "
    "of rows, never facts",
    "q213_cohens_kappa": "the single-partition exchanges are 1-row "
    "scalar reductions (n, diagonal, expected-agreement) crossed back "
    "together; every input to them is the label-space-sized confusion "
    "cell table — nothing fact-scale moves after the first hash agg",
    "q209_remove_duplicate_spans": "the only fact-scale exchange is "
    "the gram-text shuffle (the dedup state); covered-position "
    "explode is bounded by k x duplicated occurrences, and the "
    "left-join flag + single per-doc regroup folds text, totals, and "
    "removed counts into one exchange",
    "q215_incremental_dedup": "dedup_lines' q193 shape plus one anti-"
    "join against the historical line index — that join and the first-"
    "occurrence window share the line-text partitioning; the extra "
    "exchanges carry per-doc totals (doc-bounded, not line-stream)",
    "q217_kaplan_meier": "all exchanges after the per-user span agg "
    "carry the STEP table (#cohorts x #distinct durations — dozens of "
    "rows); the two survival windows share one (cohort, duration) "
    "sort",
    "q229_cohort_retention": "every exchange after the distinct "
    "(user, week) projection carries user- or cohort-cardinality rows "
    "(cohort assignment, matrix agg incl. its 2-phase distinct, base "
    "counts) — the one fact-scale shuffle is the initial distinct",
    "q230_dau_mau_stickiness": "rolling COUNT DISTINCT cannot ride a "
    "window frame; the day-grid range join carries user-days x <=30 "
    "rows and its distinct agg is 2-phase — all exchanges are over "
    "the distinct (user, day) projection, never raw events",
    "q232_cohort_ltv": "q229's situation plus the cumulative window — "
    "every exchange after the first fact shuffle carries user- or "
    "(cohort x offset)-cardinality rows",
    "q233_ship_lag_sla": "the SMJ is lineitem JOIN orders — a genuine "
    "fact-fact join where sort-merge IS the correct 100 TB plan (no "
    "broadcastable side); the quantile window then shares the "
    "per-priority sort",
    "q235_basket_affinity": "exchanges bound by the DISTINCT (order, "
    "brand) projection and its self-join (brands-per-order^2), count "
    "tables broadcast back — nothing re-shuffles raw lineitem",
    "q240_source_vocab_overlap": "all exchanges ride the DISTINCT "
    "(source, token) projection (vocab-cardinality) — the token-keyed "
    "pair join and the per-pair/per-source aggs never touch raw "
    "documents again; size tables broadcast back",
    "q241_markov_transitions": "the lag window is the one fact-scale "
    "pass; the transition counts, row totals, and the normalizing "
    "join all carry the |types|^2 matrix (dozens of rows)",
    "q244_mad_outliers": "MAD is inherently TWO sorted passes over "
    "the facts (median, then median of deviations) — both share the "
    "per-type partitioning; bounds broadcast back",
    "q246_share_of_parent": "the SMJ joins the nation-level rollup to "
    "its region re-aggregation — both derived (no stats pre-AQE) and "
    "nation/region-cardinality; AQE broadcasts at runtime (the audit "
    "reads initial plans, its header notes they are upper bounds)",
    "q248_weekly_rank_movers": "same derived-rollup situation: the "
    "rank-table self-join is brand-cardinality on both sides; AQE "
    "sizes it at runtime",
    "q262_nation_trade_balance": "the SMJ is the FULL OUTER join of "
    "the two nation-level rollups (full-outer cannot broadcast in "
    "Spark; both sides are nation-cardinality, dozens of rows, so the "
    "sort-merge costs nothing and is the only strategy available)",
    "q10_lpm_classify": "appears only at sf0.1+: the distinct-IP "
    "join-back deliberately carries no broadcast hint (lpm_lookup "
    "docstring) — AQE sizes it at runtime, and beyond the threshold a "
    "shuffled join IS the correct 100 TB plan; the q26 production path "
    "uses the zero-shuffle disjoint-interval form instead",
    "q274_dsir_integer": "the four hash exchanges are two corpora x "
    "(per-doc feature agg + bucket distribution agg): the raw feature "
    "agg is the one fact-scale shuffle (token volume, localCheckpointed "
    "so it runs once), the target corpus is small by definition, and "
    "both distribution aggs carry <= buckets rows; the ratio table "
    "broadcasts back and the final per-doc sum rides the feature "
    "table — q113's exact plan shape with integer scoring",
    "q283_hll_exact_merge": "one fact-scale exchange total: the "
    "register build's partial_max combines map-side, so exchange #1 "
    "carries at most groups x days x 256 register rows, not events; "
    "the remaining three exchanges are state-pack, merge re-max, and "
    "the final 5-row sort — all sketch-sized by construction",
    "q276_asof_dimension_replay": "the fact side touches exactly one "
    "exchange pair (the final countDistinct expand-agg); the other "
    "exchanges build the SCD2 dimension — snapshot groupBy + window "
    "collapse over a 50-key table — which then BroadcastExchanges "
    "onto the fact scan (BuildRight, plan-verified), so fact rows "
    "never shuffle for the join itself",
    "q277_scd2_incremental": "every exchange is dimension-sized: the "
    "incremental path runs the run-collapse twice (base half + "
    "apply-batch) plus semi/anti splits of the open set, all over the "
    "50-key snapshot table; the operator's scale claim is about "
    "avoiding O(history) REWRITE on refresh, and the one fact-scale "
    "stage (the snapshot groupBy feeding both halves) is shared",
    "q231_entity_resolution": "q246's derived-rollup situation: the "
    "comparator and the re-expansion join DISTINCT-TEXT tables (built "
    "by the exact-collapse rewrite, so both sides are derived with no "
    "pre-AQE stats and vocabulary-bounded — 64 distinct names here); "
    "AQE broadcasts at runtime, and the exchanges carry distinct-text "
    "or cluster-cardinality rows, never the record stream",
    "q270_dup_triangles": "the 2 SMJs are the oriented triangle "
    "count's edge-edge self-joins — both sides are the SAME verified "
    "near-dup pair list (candidate-bounded, derived, no broadcastable "
    "side by construction), the textbook shuffle formulation; the "
    "single-partition exchanges are the three scalar census counts "
    "(triangles/edges/wedges) crossed into one row",
    "q271_knn_classify": "q165's situation end-to-end: the SMJ is the "
    "probe-x-inverted-list equi-join on centroid id (both sides "
    "corpus/query-cardinality; plan-asserted that only centroids "
    "broadcast — tests/test_plans.py kNN test), plus the label-vote "
    "agg and eval join over k-row-per-probe tables",
    "q308_ranking_metrics": "all joins broadcast (qrels side is the "
    "small one by definition) and WindowGroupLimit pushes the top-10 "
    "rank cut into the partial sort; the extra exchanges are the "
    "GATE's data synthesis re-deriving runs+qrels from the same "
    "(event_type,user_id) pre-agg three times — identical exchange "
    "subtrees AQE reuses at runtime; real use reads precomputed "
    "run/qrel tables and the operator itself adds one broadcast join "
    "+ two (query) hash aggs",
    "q316_table_diff": "the SMJ is the snapshot-vs-replica FULL OUTER "
    "join on the row key — full outer cannot broadcast by definition, "
    "and both sides shuffle exactly once on the same key (the minimum "
    "for a content diff); output is churn-sized, never table-sized",
}

#: adjudicated bench-timing regressions (VERDICT r02 #2): every entry a
#: BENCH_r* regression list ever flags gets a reviewed note here, and the
#: notes render into PLAN_AUDIT.md so the adjudication ships with the
#: audit. (bench.py additionally re-times sub-3s flags best-of-2 on the
#: warm session before listing them, so pure timer noise self-clears.)
#: r04 session-3 host recalibration: the box measurably slowed between
#: the 288.5s BENCH_DETAIL run and this session — two consecutive
#: same-code idle-box runs land 486.7s then 470.4s (agreeing with each
#: other, ~1.6x the old total across DOZENS of untouched queries;
#: ingest 59.3k -> ~35-48k obs/s; /proc/stat shows nonzero steal).
#: BENCH_DETAIL.json was refreshed to the 470.4s run so future
#: regression lists compare against the box as it now performs; the
#: per-query flags of that refresh are adjudicated individually below.
_R04_HOST = (
    "r04 session-3 host recalibration (see comment above): flagged by "
    "the refresh run vs the 486.7s run minutes earlier, same code both "
    "sides ("
)
BENCH_NOTES = {
    "q294_temporal_reachability": "r5 uptick (8.14->9.61s, VERDICT r05 "
    "#2) adjudicated r6 with the house best-of-3 idle-box discipline: "
    "5.29s best-of-3 (all runs 5.29-5.79s), FASTER than both r4 and r5 "
    "— host/trigger jitter, plan unchanged (0 joins, 1 range exchange, "
    "localCheckpoint per relaxation round), no fix needed.",
    "q293_blast_radius": "r5 uptick (7.51->8.60s) adjudicated r6 "
    "alongside q294: best-of-3 4.96s (4.96-4.98s, tight), faster than "
    "both rounds — same host-jitter verdict; the k-hop frontier loop's "
    "flat-plan discipline is intact.",
    "q297_skip_index_scan": _R04_HOST + "5.1s->17.4s; the index "
    "build's parallel write is the bench's most IO-bound step and the "
    "slowed box swings it hardest; plan unchanged).",
    "q315_streaming_rates": _R04_HOST + "18.3s->29.3s; the streaming "
    "trio's trigger-wait cost has swung 1.5-3x between boots since r02 "
    "— the steady-state rates_samples_per_sec metric moved only "
    "22.7k->27.4k, i.e. the per-batch work is flat).",
    "q298_token_search_indexed": _R04_HOST + "3.0s->6.4s; reads the "
    "index q297 writes, so it inherits q297's IO swing).",
    "q319_labeler_ipv6": _R04_HOST + "5.7s->9.0s; no commit this "
    "session touched the v6 labeler path).",
    "q286_shard_pack_balanced": _R04_HOST + "0.76s->1.15s; sub-2s "
    "single-shot swing, below any meaningful threshold).",
    "q203_seasonal_forecast": _R04_HOST + "0.56s->0.89s; sub-second "
    "JVM/GC swing).",
    "q118_curation_pipeline": "r04 regression 4.20s->7.65s adjudicated "
    "AND fixed in r05: profiling split the 6.4s warm cost as "
    "duplicate_span_fraction 5.9s / with_quality 0.24s — the span "
    "counter's groupBy+join-back shape scanned the corpus and re-ran "
    "the span-generation expression twice (r04's shared-tokenizer fix, "
    "0d62e2b, made that expression pricier, which is what the bench "
    "caught). Rewritten as a single-pass window count over "
    "partitionBy(span) (same shape as remove_duplicate_spans' gram "
    "window): best-of-3 warm at sf0.1 q118 6.14s->4.59s, "
    "q101 5.89s->3.20s, outputs hash-identical.",
    "q101_duplicate_spans": "r04 flag 3.25s->5.22s adjudicated as host "
    "variance: no commit in the round touched dedup.py's span path, "
    "and best-of-3 warm on an idle box immediately after the flagged "
    "run lands 2.95-3.44s — at the previous reading. The flagged "
    "sample ran mid-suite next to the streaming trio; mid-3s queries "
    "sit just above the bench's auto-re-time threshold (both readings "
    ">3s), which is why this one surfaced raw.",
    "q04_minute_rollup": "r03 flag 0.62s->0.99s adjudicated as session "
    "drift on a sub-second query: plan unchanged (scan -> partial/final "
    "hash agg -> sort, the SummingMergeTree rollup's minimal shape, "
    "re-explained at flag time), and best-of-3 on an idle box lands "
    "0.84-0.89s warm — between the two bench readings; no commit in the "
    "window touched flows.py/gate q04, and the bench's own best-of-2 "
    "re-time already halves such flags (sub-second JVM/GC state swings "
    "~0.3s run-to-run).",
    "q106_any_left_join": "r02 flag 0.99s->1.52s adjudicated as timer "
    "noise: plan unchanged (min_by pre-agg then shuffle join, broadcast "
    "deliberately off — gate.py q106, operators/joins.py), and best-of-3 "
    "re-timing on an idle box (r03: 0.96s warm) reproduces the r01 "
    "number; sub-2s single-shot timings swing 1.5-2x with background "
    "load.",
    "q27_cosine_near_dup": "r03 1.4s->12.3s was the INTENTIONAL "
    "exactness fix (ADVICE r02): the gate switched from the "
    "approximate LSH default to the explicit exact method='sql' whose "
    "interpreted all-pairs scoring mirrors the oracle expression for "
    "expression; the LSH scale path kept its own gate (q273, ~1.5s on "
    "the FULL table) and the exact slice was subsequently bounded to "
    "vec_id<500 (~3s) — not a plan regression, a contract repair.",
    "q34_streaming_pipeline": "r03 host-variance adjudication: three "
    "same-code runs on the same boot measured 14.3s / 29.0s / 39.5s "
    "with zero commits touching streaming/job.py in the window; the "
    "swing is confined to checkpoint/trigger-wait-heavy queries (q34, "
    "q267, q315) while CPU-bound queries held flat (q02 0.86s across "
    "all three runs), and raw disk measured 797 MB/s direct — i.e. "
    "host scheduling jitter on micro-batch trigger waits, not a plan "
    "change (plan re-audited, 2 fact-side shuffles as asserted).",
    "q267_proto_ingest": "r03 host-variance: 11.8s / 17.7s / 24.9s "
    "across three same-code runs (see q34 note) — the producer-side "
    "encode + streaming lifecycle dominates and swings with host "
    "scheduling; the consumer-side decode rate is benched separately "
    "(ingest_proto_obs_per_sec, 33-36k obs/s, stable).",
    "q89_semantic_dedup": "r03 host-variance: 3.6s / 10.3s / 4.5s "
    "across three same-code runs — the 10.3s reading did not "
    "reproduce; plan unchanged.",
    "q26_flow_pipeline": "r03 host-variance: 4.8s / 7.8s / 6.1s "
    "across three same-code runs; plan unchanged (2 fact-side "
    "exchanges, plan-asserted in test_plans.py).",
    "q43_dup_clusters": "r03 host-variance: 3.7s / 6.1s / 6.3s across "
    "three same-code runs; iterative convergence loop with per-round "
    "fixed costs is scheduling-sensitive; plan unchanged.",
    "q223_lpm6": "r02 growth 1.02s->1.90s is the disjoint6 rewrite's "
    "deliberate trade: the v6 LPM lost its per-row row_number window and "
    "ALL fact-side shuffles (plan-asserted, "
    "test_plans.py::test_disjoint_lpm6_adds_no_fact_side_shuffle) in "
    "exchange for a banded broadcast join that costs ~0.6s more "
    "local-mode CPU at sf0.1 (r03 best-of-3 warm: 1.62s vs r01 1.02s) — "
    "at 100 TB the shuffle it removed dominates, not the local "
    "arithmetic it added.",
}


def round_adjudication_section(root: Path) -> str:
    """bench.py's round-over-round adjudication section, rebuilt from
    ``root/BENCH_DETAIL.json`` — or "" unless the round baseline those
    verdicts were made against is still the like-for-like baseline for
    that record's own sf, parallelism and master. Verdicts drawn against
    an unlike run (an 8-core record read against a 32-core round) are
    not restored."""
    import bench as _bench

    try:
        detail = json.loads((root / "BENCH_DETAIL.json").read_text())
    except (OSError, ValueError):
        return ""
    name, _ = _bench.load_round_baseline(
        root, detail.get("sf"), detail.get("default_parallelism"), detail.get("master")
    )
    if not name or name != detail.get("round_baseline"):
        return ""
    return _bench.format_round_adjudications(detail)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"

    from kubenetmon_spark.gate import gate_queries
    from kubenetmon_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    t0 = time.time()
    for name, fn in gate_queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit_plan(plan)
            a["name"] = name
            a["flags"] = " ".join(flags_for(a)) or "-"
            a["err"] = ""
        except Exception as e:  # keep auditing the rest
            a = {"name": name, "flags": "ERROR", "err": str(e)[:80]}
        rows.append(a)
        print(f"# {a['name']}: {a.get('flags', '')}", file=sys.stderr)

    lines = [
        "# PLAN AUDIT — generated by tools/plan_audit.py",
        "",
        f"Scale factor dir: `{sf_dir}`; {len(rows)} gate queries; "
        f"{time.time() - t0:.0f}s wall. Initial (pre-AQE) physical plans —",
        "AQE may further coalesce/convert at runtime, never the reverse, so",
        "these counts are upper bounds on shuffle/join cost.",
        "",
        "Columns: BHJ broadcast-hash joins / SMJ sort-merge joins / NLJ",
        "non-broadcast nested-loop / hash-partitioning, range, single-",
        "partition exchanges / distinct whole-stage-codegen spans / Arrow",
        "(mapInPandas etc.) stage present / window operators / flags.",
        "",
        "| query | BHJ | SMJ | NLJ | xHash | xRange | x1 | codegen | arrow | win | flags |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for a in rows:
        if a.get("flags") == "ERROR":
            lines.append(f"| {a['name']} | — | — | — | — | — | — | — | — | — | ERROR: {a['err']} |")
            continue
        lines.append(
            f"| {a['name']} | {a['bhj']} | {a['smj']} | {a['nlj']} | "
            f"{a['xchg_hash']} | {a['xchg_range']} | {a['xchg_single']} | "
            f"{a['codegen']} | {'y' if a['arrow'] else ''} | {a['window']} | {a['flags']} |"
        )

    flagged = [a for a in rows if a.get("flags") not in ("-", None) and a.get("flags") != "ERROR"]
    lines += ["", f"Flagged for review: {len(flagged)}"]
    for a in flagged:
        why = KNOWN.get(a["name"])
        note = f" — reviewed: {why}" if why else " — UNREVIEWED"
        lines.append(f"- {a['name']}: {a['flags']}{note}")
    unreviewed = [a for a in flagged if a["name"] not in KNOWN]
    if unreviewed:
        lines.append("")
        lines.append(
            f"{len(unreviewed)} UNREVIEWED flag(s) — a plan likely regressed; "
            "investigate before shipping."
        )

    lines += ["", "## Bench regression adjudications", ""]
    for q, why in BENCH_NOTES.items():
        lines.append(f"- {q}: {why}")

    # Regenerating this file must not erase bench.py's auto-written
    # round-over-round adjudication section — rebuild it from
    # BENCH_DETAIL.json (the durable record).
    section = round_adjudication_section(Path(__file__).resolve().parent.parent)
    if section:
        lines.append(section)

    Path(out_md).write_text("\n".join(lines) + "\n")
    print(f"wrote {out_md} ({len(rows)} queries, {len(flagged)} flagged)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
