"""Labeler conformance suite: every configuration of the one SQL-text
labeler (flowsql.labeled_sql) agrees with every other, row for row, over
the labeler scenario fixtures (accepts, all reject reasons, NAT shapes,
AZ labels, ambiguity), the mixed v4+v6 demo fixture agrees with q319's
DuckDB oracle, and one micro-batch through the streaming DSL path
agrees with the batch pipeline.

Forms compared: label_flows (fresh dims, node dims and the LPM as
broadcast joins) vs the prepared text the streaming jobs run (node dims
as literals or, above LITERAL_NODE_DIM_LIMIT, as joins; the LPM as a
join or an inlined CASE chain)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from kubenetmon_spark.flowsql import (
    flow_batch_sql,
    flows_agg_sql,
    labeled_sql,
    register_flow_dim_views,
)
from kubenetmon_spark.functions.flags import canonical_flags_json
from kubenetmon_spark.operators.flows import summing_aggregate, to_flow_rows
from kubenetmon_spark.operators.label import (
    label_flows,
    prepare_label_dims,
    release_label_dims,
    split_rejected,
)
from kubenetmon_spark.operators.lpm import disjoint_prefixes
from tests.fixtures import CFG, T0, _obs, nodes_df, observations_df, pods_df, prefixes_df
from tests.test_streaming import SF_DIR


def _snap(df):
    cols = [
        canonical_flags_json(c).alias(c) if c == "connectionFlags" else F.col(c)
        for c in df.columns
    ]
    return sorted(
        map(tuple, df.select(*cols).collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _same(a, b):
    assert a.columns == b.columns
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]
    assert _snap(a) == _snap(b)


@pytest.fixture(scope="module")
def setup(spark):
    prefixes = prefixes_df(spark)
    disjoint = disjoint_prefixes(prefixes).persist()
    disjoint.count()
    prepared = prepare_label_dims(pods_df(spark), nodes_df(spark))
    assert prepared["node_ip_set"] is not None  # literal node dims
    assert prepared["zone_map"] is not None
    views = register_flow_dim_views(spark, prepared, disjoint, tag="tfsql")
    obs = observations_df(spark)
    obs.createOrReplaceTempView("_tfsql_obs")
    yield {"prepared": prepared, "views": views, "obs": obs,
           "prefixes": prefixes, "disjoint": disjoint}
    release_label_dims(prepared)
    disjoint.unpersist()


def _label_flows(spark, obs, prefixes, cfg=CFG):
    return label_flows(obs, pods_df(spark), nodes_df(spark), prefixes, cfg)


def test_labeled_sql_identical_to_label_flows(spark, setup):
    """Prepared text (literal node dims, pre-flattened LPM) == one
    label_flows call over the raw prefix dim (node-dim joins)."""
    sql_path = spark.sql(
        labeled_sql(CFG, setup["prepared"], "_tfsql_obs", *setup["views"])
    )
    _same(sql_path, _label_flows(spark, setup["obs"], setup["prefixes"]))


def test_label_flows_reads_disjointness_from_schema(spark, setup):
    """A pre-flattened prefix dim (seg_start present) labels exactly
    like the raw dim it was flattened from."""
    _same(
        _label_flows(spark, setup["obs"], setup["disjoint"]),
        _label_flows(spark, setup["obs"], setup["prefixes"]),
    )


def test_label_flows_leaves_no_views(spark, setup):
    before = {t.name for t in spark.catalog.listTables()}
    labeled = _label_flows(spark, setup["obs"], setup["prefixes"])
    assert {t.name for t in spark.catalog.listTables()} == before
    assert labeled.count() == setup["obs"].count()  # still lazy-valid


def test_flow_batch_sql_identical_to_aggregate_chain(spark, setup):
    accepted, _ = split_rejected(
        _label_flows(spark, setup["obs"], setup["prefixes"])
    )
    df_flows = summing_aggregate(to_flow_rows(accepted))
    sql_flows = spark.sql(
        flow_batch_sql(CFG, setup["prepared"], "_tfsql_obs", *setup["views"])
    )
    _same(sql_flows, df_flows)


def test_flows_agg_sql_over_view_matches(spark, setup):
    """The dead-letter split form: agg over a labeled view's accepted
    subset equals summing_aggregate(to_flow_rows(accepted))."""
    labeled = spark.sql(
        labeled_sql(CFG, setup["prepared"], "_tfsql_obs", *setup["views"])
    )
    labeled.createOrReplaceTempView("_tfsql_labeled")
    sql_flows = spark.sql(
        flows_agg_sql(
            "(SELECT * FROM _tfsql_labeled WHERE reject_reason IS NULL)"
        )
    )
    accepted, _ = split_rejected(labeled)
    df_flows = summing_aggregate(to_flow_rows(accepted))
    assert sql_flows.columns == df_flows.columns
    assert _snap(sql_flows) == _snap(df_flows)


def test_udp_kept_config_supported(spark, setup):
    """ignore_udp=False flips one reject branch; both forms must agree."""
    cfg = replace(CFG, ignore_udp=False)
    sql_path = spark.sql(
        labeled_sql(cfg, setup["prepared"], "_tfsql_obs", *setup["views"])
    )
    _same(sql_path, _label_flows(spark, setup["obs"], setup["prefixes"], cfg))


def test_lpm_literal_identical_to_join(spark, setup):
    """Small-dim CASE-chain LPM == the banded broadcast left join, over
    every scenario (hits in every segment, misses, private
    short-circuits, null remotes)."""
    from kubenetmon_spark.flowsql import (
        LITERAL_LPM_SEGMENT_LIMIT,
        collect_lpm_segments,
    )

    segments = collect_lpm_segments(setup["disjoint"])
    assert segments is not None  # fixture dim is small
    assert len(segments) <= LITERAL_LPM_SEGMENT_LIMIT
    join_path = spark.sql(
        labeled_sql(CFG, setup["prepared"], "_tfsql_obs", *setup["views"])
    )
    lit_path = spark.sql(
        labeled_sql(
            CFG,
            setup["prepared"],
            "_tfsql_obs",
            *setup["views"],
            lpm_segments=segments,
        )
    )
    _same(lit_path, join_path)


def test_literal_node_dims_identical_to_join(spark, setup, monkeypatch):
    """Above LITERAL_NODE_DIM_LIMIT the prepared node dims stay
    DataFrames and the text joins against their views; every scenario
    row — accepts, node_flow rejects, AZ labels — is identical to the
    literal IN-set / map form."""
    from kubenetmon_spark.operators import label

    monkeypatch.setattr(label, "LITERAL_NODE_DIM_LIMIT", 0)
    joined = prepare_label_dims(pods_df(spark), nodes_df(spark))
    try:
        assert joined["node_ip_set"] is None and joined["zone_map"] is None
        views = register_flow_dim_views(
            spark, joined, setup["disjoint"], tag="tfsql_join"
        )
        text = labeled_sql(CFG, joined, "_tfsql_obs", *views)
        assert "orig_src_ip IN (" not in text and "element_at(" not in text
        join_path = spark.sql(text)
        lit_path = spark.sql(
            labeled_sql(CFG, setup["prepared"], "_tfsql_obs", *setup["views"])
        )
        _same(join_path, lit_path)
    finally:
        release_label_dims(joined)


def test_ipv4_parse_error_rejects(spark, setup):
    """A non-dotted-quad remote (here 1.2.3.999, which the old fold read
    as 1.2.7.231) rejects as ipv4_parse_error in every form instead of
    LPM-matching some prefix."""
    bad = spark.createDataFrame(
        [
            _obs("node-1", T0, 6, "10.0.0.1", 7001, remote, 443, remote, 443,
                 "10.0.0.1", 7001)
            for remote in ("1.2.3.999", "1.1.1", "1.1.1.5.5")
        ],
        setup["obs"].schema,
    )
    bad.createOrReplaceTempView("_tfsql_bad")
    forms = [
        _label_flows(spark, bad, setup["prefixes"]),
        spark.sql(
            labeled_sql(CFG, setup["prepared"], "_tfsql_bad", *setup["views"])
        ),
        _label_flows(spark, bad, setup["prefixes"], replace(CFG, ignore_ipv6=False)),
    ]
    for df in forms:
        assert [r.reject_reason for r in df.collect()] == ["ipv4_parse_error"] * 3


class TestMixedV4V6:
    """The mixed v4+v6 demo fixture (q319's input) at sf0.001."""

    @pytest.fixture(scope="class")
    def inputs6(self, spark):
        from kubenetmon_spark.demo import DEMO_CFG, build_flow_inputs6

        obs, pods, nodes, prefixes, prefixes6 = build_flow_inputs6(spark, SF_DIR)
        return obs, pods, nodes, prefixes, prefixes6, replace(DEMO_CFG, ignore_ipv6=False)

    def test_q319_matches_duckdb_oracle(self, spark):
        import duckdb

        from kubenetmon_spark.gate import gate_oracles, gate_queries

        name = "q319_labeler_ipv6"
        got = gate_queries()[name](spark, SF_DIR).toPandas()
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
        )
        want = con.sql(gate_oracles()[name]).df()
        cols = sorted(got.columns)
        assert cols == sorted(want.columns)

        def rows(pdf):
            return sorted(
                tuple(v if isinstance(v, str) else int(v) for v in r)
                for r in pdf[cols].itertuples(index=False)
            )

        assert rows(got) == rows(want)

    def test_prepared_text_identical_to_label_flows(self, spark, inputs6):
        """v6 mode through the prepared text (literal node dims,
        pre-flattened v6 sides) == label_flows (node-dim joins)."""
        from kubenetmon_spark.operators.lpm import disjoint_prefixes6, lpm6_sides

        obs, pods, nodes, prefixes, prefixes6, cfg = inputs6
        prepared = prepare_label_dims(pods, nodes)
        try:
            assert prepared["node_ip_set"] is not None
            disjoint = disjoint_prefixes(prefixes)
            views = register_flow_dim_views(spark, prepared, disjoint, tag="tfsql6")
            narrow, wide = lpm6_sides(disjoint_prefixes6(prefixes6))
            narrow.createOrReplaceTempView("_tfsql6_narrow")
            wide.createOrReplaceTempView("_tfsql6_wide")
            prepared.update(
                lpm6_narrow_view="_tfsql6_narrow", lpm6_wide_view="_tfsql6_wide"
            )
            obs.createOrReplaceTempView("_tfsql6_obs")
            sql_path = spark.sql(labeled_sql(cfg, prepared, "_tfsql6_obs", *views))
            df_path = label_flows(obs, pods, nodes, prefixes, cfg, prefixes6=prefixes6)
            _same(sql_path, df_path)
            classes = {
                r.connectionClass
                for r in df_path.filter(F.col("remoteIPv4").contains(":")).collect()
            }
            assert classes == {"INTRA_REGION", "PUBLIC_INTERNET", "INTRA_VPC"}
        finally:
            release_label_dims(prepared)


def test_streaming_micro_batch_matches_batch(spark, setup, tmp_path):
    """One micro-batch of the fixture observations through
    streaming_network_flows (label_flows over a streaming DataFrame)
    folds to the batch pipeline's flow rows."""
    from kubenetmon_spark.streaming import read_observations, streaming_network_flows

    obs_dir = str(tmp_path / "obs")
    setup["obs"].write.parquet(obs_dir)
    flows = streaming_network_flows(
        read_observations(spark, obs_dir),
        pods_df(spark),
        nodes_df(spark),
        setup["prefixes"],
        CFG,
    )
    q = (
        flows.writeStream.format("memory")
        .queryName("_tfsql_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
        assert q.exception() is None
        assert len(q.recentProgress) == 1
        got = spark.table("_tfsql_stream")
        accepted, _ = split_rejected(
            _label_flows(spark, setup["obs"], setup["prefixes"])
        )
        want = summing_aggregate(to_flow_rows(accepted))
        assert sorted(got.columns) == sorted(want.columns)
        assert _snap(got.select(*want.columns)) == _snap(want)
    finally:
        q.stop()
