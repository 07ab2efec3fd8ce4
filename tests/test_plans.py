"""Physical-plan invariant tests — machine-checked versions of the
SCALE.md audit. If one of these breaks, a plan regressed (lost pushdown,
a dim join fell back to sort-merge, the labeler gained a fact-side
shuffle) even though results may still be correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs
from kubenetmon_spark.operators.label import label_flows
from kubenetmon_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_labeler_has_no_sort_merge_join(spark):
    obs, pods, nodes, prefixes = build_flow_inputs(spark, SF_DIR)
    plan = _plan(label_flows(obs, pods, nodes, prefixes, DEMO_CFG))
    assert "SortMergeJoin" not in plan, "labeler dim join fell back to sort-merge"
    assert "BroadcastHashJoin" in plan


def test_labeler_paired_dim_joins_reuse_broadcasts(spark):
    """Each dim joined once per endpoint side (node IPs, pods, zones)
    must BUILD its broadcast once: the rename rides a Project above the
    join, so the second side's exchange canonicalizes equal and the
    planner emits a ReusedExchange. Checked with AQE off because the
    static ReuseExchangeAndSubquery rule is the deterministic,
    explain-visible form of the same canonical-equality condition AQE's
    runtime stage reuse applies."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        obs, pods, nodes, prefixes = build_flow_inputs(spark, SF_DIR)
        plan = _plan(label_flows(obs, pods, nodes, prefixes, DEMO_CFG))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    n_reused = plan.count("ReusedExchange")
    assert n_reused >= 3, (
        "labeler's paired dim joins stopped sharing broadcast builds "
        f"(ReusedExchange x{n_reused}, expected the node-IP, pod and "
        "zone pairs)"
    )


def test_filter_and_projection_pushdown(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter(F.col("l_quantity") < 5).select("l_quantity", "l_extendedprice")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)" in plan
    # column pruning: the scan must read only the 2 referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema and "l_comment" not in read_schema


def test_disjoint_lpm_adds_no_fact_side_shuffle(spark):
    from kubenetmon_spark.operators.lpm import disjoint_prefixes, lpm_lookup_disjoint

    obs, _, _, prefixes = build_flow_inputs(spark, SF_DIR)
    probes = obs.select(F.col("orig_src_port").cast("long").alias("ip_num"))
    plan = _plan(lpm_lookup_disjoint(probes, disjoint_prefixes(prefixes), "ip_num"))
    # the probe side must reach the join without any exchange; the only
    # exchanges allowed are on the (tiny) dimension build + its broadcast
    probe_section = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_section, (
        "probe/fact side of the disjoint LPM join got shuffled"
    )


def test_disjoint_lpm6_adds_no_fact_side_shuffle(spark):
    from kubenetmon_spark.operators.lpm import lpm_lookup6, prefixes6_from_cidrs

    dim = prefixes6_from_cidrs(
        spark,
        [
            ("2001:db8::/32", "aws", "ec2", "us-east-1"),
            ("2001:db8:aaaa::/48", "aws", "s3", "us-east-1"),
            ("::/0", "any", "", ""),  # wide segment -> nested-loop side
        ],
    )
    probes = spark.range(1000).select(
        F.lit(0x20010DB8 << 32).alias("ip_hi"), F.col("id").alias("ip_lo")
    )
    plan = _plan(lpm_lookup6(probes, dim))
    # the fact side must reach both broadcast joins without any
    # exchange, window, or sort: disjoint segments mean at most one
    # match per row, so no per-row winner pick exists in the plan
    # the dim-build sweep legitimately uses a Window over the tiny
    # boundary-point table (inside the BroadcastExchange subtree); the
    # PROBE side — everything above the first broadcast — must be free
    # of exchanges, windows, and sorts
    probe_section = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_section, (
        "probe/fact side of the disjoint v6 LPM join got shuffled"
    )
    assert "Window" not in probe_section and "Sort" not in probe_section
    assert "SortMergeJoin" not in plan


def test_udp_kept_when_ignore_udp_off(spark):
    from dataclasses import replace

    from kubenetmon_spark.demo import build_flow_inputs

    obs, pods, nodes, prefixes = build_flow_inputs(spark, SF_DIR)
    udp_obs = obs.limit(5).withColumn("proto", F.lit(17))
    keep_cfg = replace(DEMO_CFG, ignore_udp=False)
    kept = label_flows(udp_obs, pods, nodes, prefixes, keep_cfg).filter(
        F.col("reject_reason").isNull()
    )
    rows = kept.collect()
    assert rows and all(r.proto == "UDP" for r in rows)
    dropped = label_flows(udp_obs, pods, nodes, prefixes, DEMO_CFG).filter(
        F.col("reject_reason") == "udp_ignored"
    )
    assert dropped.count() == 5


def test_snowflake_join_dims_broadcast(spark):
    """q58's 5-table join: every dim is a broadcast-hash join; the fact
    side never sort-merges (at dim sizes up to ~10^5 rows a SMJ means a
    lost broadcast threshold or a missing hint)."""
    from kubenetmon_spark.gate import gate_queries

    df = gate_queries()["q58_region_supplier_volume"](spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 4


def test_percent_of_total_window_over_aggregate_only(spark):
    """q53's unpartitioned window must sit ABOVE the aggregation (25
    nation rows), never over fact rows — a window over the raw join
    would single-partition the whole orders table."""
    from kubenetmon_spark.gate import gate_queries

    df = gate_queries()["q53_percent_of_total"](spark, SF_DIR)
    plan = _plan(df)
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w != -1 and agg != -1 and w < agg, (
        "window is not above the aggregation in the plan"
    )


def test_promo_share_dim_broadcast_case_in_aggregate(spark):
    """q60: the part dim must broadcast (never SMJ), and the CASE folds
    into the aggregate — no materialization of the joined rows."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q60_promo_share"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """q61: four grouping sets must evaluate via ONE Expand + ONE
    aggregation shuffle, not one pass per set."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q61_grouping_sets"](spark, SF_DIR))
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange hashpartitioning") == 1, (
        "grouping sets should aggregate through exactly one shuffle"
    )


def test_sessionize_single_fact_shuffle(spark):
    from kubenetmon_spark.operators.sessions import sessionize
    from kubenetmon_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    plan = _plan(sessionize(ev, ["user_id"], order_cols=["event_id"]))
    assert plan.count("Exchange hashpartitioning") == 1, (
        "sessionize should shuffle exactly once (on the session key)"
    )


def test_disjunctive_scan_pushes_per_side_residuals(spark):
    """q69 (TPC-H Q19 shape): the OR-of-ANDs spans both join sides, but
    each side's weaker residual must still reach its own scan — the
    lineitem scan filters on the union of quantity ranges, the part scan
    on the brand/size disjunction — and the dim side broadcasts."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q69_disjunctive_scan"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    li_scan = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ][0]
    assert "l_quantity" in li_scan.split("DataFilters")[1].split("]")[0], (
        "quantity-range union not pushed to the lineitem scan"
    )
    p_scan = [l for l in plan.splitlines() if "FileScan" in l and "part.parquet" in l][0]
    assert "p_brand" in p_scan.split("DataFilters")[1].split("]")[0], (
        "brand disjunction not pushed to the part scan"
    )


def test_lone_late_shipper_decorrelated_no_fact_broadcast(spark):
    """q73 (TPC-H Q21 shape): the Spark plan must be the decorrelated
    aggregate form — no semi/anti self-joins (which recompute the late
    relation) and, critically for 100 TB, no broadcast built directly
    over a lineitem scan (a literal EXISTS rewrite broadcasts a fact
    projection)."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q73_lone_late_shipper"](spark, SF_DIR))
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    # A broadcast subtree may contain a lineitem scan only BELOW an
    # aggregation (broadcasting a per-order aggregate is a size decision
    # AQE revisits at scale); a scan that reaches the broadcast without
    # passing through HashAggregate is a raw fact broadcast — never legal.
    for section in plan.split("BroadcastExchange")[1:]:
        for line in section.splitlines():
            if "HashAggregate" in line:
                break
            assert not ("FileScan" in line and "lineitem" in line), (
                "a raw lineitem projection is being broadcast — fact-side "
                "broadcast does not survive scale-up"
            )


def test_market_share_one_fact_shuffle_all_dims_broadcast(spark):
    """q74 (TPC-H Q8 shape): 6 joins, but the fact side must reach the
    aggregation through broadcast joins only — exactly one
    hashpartitioning exchange (the year group-by), plus the final sort's
    range partitioning."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q74_market_share"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, (
        "market share should shuffle fact rows exactly once (group key)"
    )


def test_funnel_single_sort_and_shuffle(spark):
    """q84 windowFunnel: the L-1 cascaded running-max windows must share
    ONE (user, ts) sort and ONE user-key exchange — if a window spec
    drifts (different ordering/frame), Spark inserts a Sort per window
    and the single-pass design is lost. The per-user aggregate must then
    reuse the window's partitioning (subset-key rule): no second
    hashpartitioning exchange."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q84_window_funnel"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, (
        "funnel should shuffle step events exactly once (user key)"
    )
    # the final orderBy is a GLOBAL sort (flag `true`); the windows' one
    # shared (user, ts) sort is the only LOCAL sort (flag `false`)
    local_sorts = [
        l for l in plan.splitlines() if "Sort [" in l and " false, 0" in l
    ]
    assert len(local_sorts) <= 1, f"cascaded windows re-sorted: {local_sorts}"


def test_q70_single_fact_aggregation(spark):
    """The fraction-of-global shape must scan+aggregate the fact table
    exactly once (regression guard for the crossJoin-rescan bug)."""
    from kubenetmon_spark.gate import gate_queries

    plan = _plan(gate_queries()["q70_part_value_share"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, (
        "q70 should read lineitem once; a scalar-subquery formulation reads it twice"
    )


def test_any_left_join_broadcasts_deduped_side(spark):
    from kubenetmon_spark.operators.joins import any_left_join

    left = load_table(spark, SF_DIR, "part").select("p_partkey")
    right = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_quantity",
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("pk"),
    )
    plan = _plan(any_left_join(left, right, ["p_partkey"], F.col("pk")))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_delta_sum_single_shuffle(spark):
    from kubenetmon_spark.operators.timeseries import delta_sum

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("long").alias("x")
    )
    plan = _plan(delta_sum(ev, ["user_id"], "ts", "x", "event_id"))
    assert plan.count("Exchange hashpartitioning") == 1, (
        "deltaSum should shuffle once on the key; the window and the final "
        "aggregate share that partitioning"
    )


def test_weighted_quantile_single_shuffle(spark):
    from kubenetmon_spark.operators.agg import weighted_quantile_exact

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.col("value").cast("long").alias("x"),
        (F.col("user_id") % 5 + 1).alias("w"),
    )
    plan = _plan(weighted_quantile_exact(ev, ["event_type"], "x", "w", [50]))
    assert plan.count("Exchange hashpartitioning") == 1


def test_gopher_rules_fuse_into_scan(spark):
    """The Gopher filter must be one expression chain over the scan —
    no exchange, no Python eval node, no join."""
    from kubenetmon_spark.operators.text import with_gopher_rules

    d = load_table(spark, SF_DIR, "documents")
    plan = _plan(with_gopher_rules(d))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_knn_join_corpus_never_broadcasts(spark):
    """Centroids broadcast; the corpus side must NOT — a broadcast
    corpus would OOM at scale. Assignment + candidates shuffle on the
    centroid id / window keys only.

    Plan-shape assertions depend on the broadcast threshold and AQE
    coalescing, which other suite members may legitimately have
    touched — pin both for the duration (the 10 MB default) so the
    test is hermetic under any suite ordering.
    """
    from kubenetmon_spark.operators.similarity import knn_join

    pinned = {
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.adaptive.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        emb = load_table(spark, SF_DIR, "embeddings")
        queries = emb.filter(F.col("vec_id") % 10 == 0).selectExpr(
            "vec_id as query_id", "embedding"
        )
        plan = _plan(knn_join(emb, queries, k=3, n_centroids=8, n_probe=2))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # the centroid table rides BroadcastExchange (its cross-join against
    # corpus/queries is a BroadcastNestedLoopJoin building the tiny
    # side); the centroid filter appears as PushedFilters on a parquet
    # scan — or as a plain Filter node when another suite member cached
    # the embeddings table (InMemoryTableScan carries no pushdown text)
    import re

    assert "BroadcastExchange" in plan
    assert "LessThan(vec_id,8)" in plan or re.search(
        r"vec_id#\d+L? < 8", plan
    ), "centroid filter not visible in the plan"
    # the corpus-side pipeline shuffles on its aggregation/window keys —
    # hash exchanges exist and nothing collapses to a single partition
    assert "Exchange hashpartitioning" in plan
    assert "Exchange SinglePartition" not in plan
    # the corpus assignment aggregates on (nbr_id, cv) — its exchange
    # key — proving the full corpus is shuffled, not broadcast
    assert "hashpartitioning(nbr_id" in plan


def test_quantile_timing_aggregates_before_sort(spark):
    """The bucket histogram hash-agg must appear BELOW the window sort:
    the sort runs over bucket counts, not raw rows."""
    from kubenetmon_spark.operators.agg import quantile_timing

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", F.col("user_id").alias("ms")
    )
    plan = _plan(quantile_timing(ev, ["event_type"], "ms", [50]))
    agg_pos = plan.find("HashAggregate")
    sort_pos = plan.find("Sort ")
    assert agg_pos != -1 and sort_pos != -1
    # executedPlan prints top-down: the LAST HashAggregate (bottom-most)
    # must be the pre-sort histogram agg — verify a hash agg exists
    # below the window's sort in the tree
    below_sort = plan[sort_pos:]
    assert "HashAggregate" in below_sort


def test_phrase_search_filters_tokens_before_shuffle(spark):
    """The phrase-term filter must sit under the first exchange — the
    full token stream never shuffles."""
    from kubenetmon_spark.operators.retrieval import phrase_search

    d = load_table(spark, SF_DIR, "documents")
    plan = _plan(phrase_search(d, "merge batch"))
    first_exchange = plan.find("Exchange hashpartitioning")
    assert first_exchange != -1
    below = plan[first_exchange:]
    assert "token" in below and ("Filter" in below or "Generate" in below)
    assert "BroadcastHashJoin" in plan  # the (term, offset) table


def test_join_algorithm_hint_surface(spark):
    """ClickHouse's SETTINGS join_algorithm = 'hash' | 'partial_merge' |
    'broadcast' maps to Spark join hints: the same query flips physical
    strategy under a hint while producing identical results."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate"
    )

    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    merged = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    shuffled = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    bcast = li.join(
        F.broadcast(orders), li.l_orderkey == orders.o_orderkey
    )
    assert "SortMergeJoin" in _plan(merged)
    assert "ShuffledHashJoin" in _plan(shuffled)
    assert "BroadcastHashJoin" in _plan(bcast)
    n = plain.count()
    assert merged.count() == shuffled.count() == bcast.count() == n


def test_runtime_bloom_filter_join_pruning(spark):
    """The 100 TB lever for selective dim joins that are too big to
    broadcast: Spark's runtime bloom-filter injection builds a bloom
    filter from the filtered dim keys and applies it to the fact scan
    BEFORE the shuffle (might_contain in the optimized plan), cutting
    shuffle volume to ~the matching fraction. Thresholds are lowered
    here because the local test tables are tiny; at production scale
    the defaults (10 GB application side) trigger on their own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = (
            load_table(spark, SF_DIR, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "bloom filter was not injected"
        # and the filtered join still returns the right rows
        plain_confs_off = j.count()
        assert plain_confs_off > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- skew kill-tests (VERDICT r02 #3) ----------------------------------
# The reference deployment's real skew shape is a single chatty pod: 90%
# of observations landing on ONE full dimension key (SURVEY.md §4.5).


def test_summing_aggregation_survives_90pct_one_key_skew(spark):
    # The flagship shuffle is keyed by the 33 dims. Structural defense:
    # map-side partial aggregation (HashAggregate BELOW the exchange)
    # collapses the hot key to one row per mapper before any shuffle,
    # so a 90%-one-key distribution never rides the wire — and the
    # summing contract stays exact.
    from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
    from kubenetmon_spark.operators.label import label_flows as lf, split_rejected
    from tests.fixtures import CFG, nodes_df, observations_df, pods_df, prefixes_df

    prefixes = prefixes_df(spark)
    labeled = lf(observations_df(spark), pods_df(spark), nodes_df(spark), prefixes, CFG)
    accepted, _ = split_rejected(labeled)
    base = to_flow_rows(accepted)
    hot = base.orderBy("localPort", "direction").limit(1)
    hot_many = hot.withColumn(
        "_i", F.explode(F.sequence(F.lit(1), F.lit(9000)))
    ).drop("_i")
    fact = base.unionByName(hot_many)

    agg = summing_aggregate(fact)
    rows = agg.collect()
    plan = _plan(agg)

    # partial/final shape: a HashAggregate must sit BELOW the exchange
    # (plan prints top-down, so it appears after the Exchange line)
    assert "Exchange hashpartitioning" in plan
    below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "HashAggregate" in below_exchange, (
        "summing aggregation lost its map-side partial aggregate — "
        "key skew would ride the shuffle at full row volume"
    )

    # the gate stays green under skew: totals exact, one row per key
    tot_bytes = fact.agg(F.sum("bytes")).collect()[0][0]
    assert sum(r.bytes for r in rows) == tot_bytes
    # MAP columns can't join set ops: count keys via the canonical
    # flags JSON (exactly how summing_aggregate groups them)
    from kubenetmon_spark.functions.flags import canonical_flags_json

    n_keys = (
        fact.withColumn("_fk", canonical_flags_json("connectionFlags"))
        .select(
            "_fk",
            *[
                c
                for c in agg.columns
                if c not in ("bytes", "packets", "connectionFlags")
            ],
        )
        .distinct()
        .count()
    )
    assert len(rows) == n_keys


def test_aqe_skew_join_split_activates(spark):
    # For genuinely skewed SHUFFLE joins (fact-to-fact, too big to
    # broadcast), the engine's session defaults turn on AQE skew-join
    # splitting; this pins that a 90%-one-key join actually triggers it
    # (executedPlan carries skew=true) and returns exact results.
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE has its own runtime broadcast threshold; keep the join a
        # shuffle join so the skew machinery (not broadcast) handles it
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
    }
    old = {}
    for k, v in tuned.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        # pad must SURVIVE into the join output (else column pruning
        # drops it) and be incompressible (else 54k identical keys
        # compress below any skew threshold in the shuffle stats)
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5((F.col("id") + 7).cast("string")),
                F.md5((F.col("id") + 13).cast("string")),
            ).alias("pad"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.col("id").alias("r")
        )
        j = left.join(right, "k").select("k", "pad", "r")
        # collect() (not count()) so the inspected queryExecution is the
        # one that actually ran and carries the final adaptive plan
        got = len(j.collect())
        plan = _plan(j)
        assert "skew=true" in plan, (
            "AQE did not split the 90%-one-key join — skew config "
            "regressed in session defaults"
        )
        # exact under the split: 54k rows match k=0; ids 9,19..99 match
        # themselves
        assert got == 54_000 + 10
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stratified_sample_folds_before_stratum_shuffle(spark):
    """q278's scale claim, machine-checked: the bounded build runs the
    Arrow bottom-n fold BEFORE the stratum exchange (shuffle carries
    n x partitions rows per stratum, not the stratum), and the whole
    plan has exactly one hash exchange (the window sort)."""
    from kubenetmon_spark.operators.sampling import stratified_sample_exact

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "source")
    plan = _plan(stratified_sample_exact(d, ["lang", "source"], 7, "doc_id"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    # the fold must sit below (= printed after) the exchange in the tree
    fold_pos = plan.find("MapInPandas")
    xchg_pos = plan.find("Exchange hashpartitioning")
    assert fold_pos > xchg_pos, "bottom-n fold must run scan-side, pre-shuffle"


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """The persisted-IVF scale claim, machine-checked: ivf_search's
    candidate scan carries the probe list as PartitionFilters (only
    n_probe centroid directories are read) and the query/centroid sides
    broadcast — no shuffle of the corpus."""
    from kubenetmon_spark.operators.similarity import build_ivf_index, ivf_search

    e = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, n_centroids=16)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    out = ivf_search(spark, idx, q, k=10, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # probe list reaches the file index as a partition filter
    import re

    assert re.search(r"PartitionFilters: \[.*centroid", plan), plan
    assert "Exchange hashpartitioning" not in plan  # pure scan + broadcast + topk
