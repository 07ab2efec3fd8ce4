"""Connected components over a pair list — duplicate-cluster assembly.

Near-duplicate detection (operators/dedup.py) emits PAIRS; a training
-data pipeline needs CLUSTERS: if A~B and B~C, then {A,B,C} keep one
canonical document. That closure is connected components on the
similarity graph.

Algorithm: iterative min-label propagation ("hash-to-min"). Every node
starts labeled with itself; each round a node takes the minimum label
among itself and its neighbors; converged when no label changes. Rounds
needed = graph diameter, and near-dup graphs are unions of small dense
clusters (diameter 2-4), so a handful of rounds closes everything.

Scale posture per round: one shuffle of the edge list keyed by node
(join labels->edges), one groupBy(node).min aggregation. Edge count,
not document count, drives the cost, and LSH banding already bounded
pairs to genuinely-similar candidates. Lineage is cut each round with
``localCheckpoint`` so the loop's plan doesn't grow. For graphs with
huge diameter (paths), switch to the large-star/small-star variant;
dedup graphs don't need it.

Driver solves: every iterative operator here first asks
``tables.driver_table`` for its (checkpointed) input. A graph under the
one ``DRIVER_SOLVE_CELLS`` ceiling moves to the driver once, as Arrow,
and every round runs there in numpy; a larger one moves no rows and
takes the distributed loop, whose only collects are per-round
scalars. Both paths give identical output, pinned by forced
differential tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kubenetmon_spark.tables import driver_table, local_df


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``component`` is the minimum node id reachable from ``node`` —
    a deterministic canonical representative (use it to pick the doc
    to keep). Raises if ``max_iter`` rounds don't converge.
    """
    # Symmetric closure PLUS self-loops: with (n, n) edges present, the
    # per-round update is a single join+min-agg — a formulation without
    # them needs an extra left join to fold a node's own label back in.
    # Self-loops are built from the DISTINCT node set, not another full
    # edge copy: on dense near-clique pair graphs (avg degree in the
    # hundreds) that halves the volume the closure's distinct shuffles.
    # All branches read `edges` inside ONE materialization
    # (localCheckpoint), so an expensive upstream pair-generation plan
    # (e.g. MinHash-LSH) executes exactly once, not once per branch.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .unionByName(
            nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
        )
        .localCheckpoint(eager=True)
    )
    # Driver simulation under the driver_table ceiling: each
    # distributed round is one join+min-agg+checkpoint job over a
    # closure small enough to hold on the driver. The driver path
    # SIMULATES the exact per-round min-label propagation — same
    # initial labels, same per-round min over matched edges, same
    # exact-integer sum convergence test, same max_iter RuntimeError —
    # so behavior (including non-convergence) is bit-identical, pinned
    # by forced differential tests. Restricted to integral node types
    # with no NULL nodes: strings would need Spark's
    # decimal-cast-of-string semantics in the convergence sum, and NULL
    # nodes have join-miss semantics — both fall back to the
    # distributed loop unchanged.
    _int_nodes = all(
        f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
        for f in sym.schema.fields
    )
    tbl = driver_table(sym, 2) if _int_nodes else None
    if tbl is not None and tbl["a"].null_count == tbl["b"].null_count == 0:
        # Each round is one vectorized min-scatter. Every node appears
        # as `a` (the self-loop closure above), so labeling over the
        # distinct `a` set is the dict formulation's key set.
        schema = (
            sym.select(F.col("a").alias("node"))
            .withColumn("comp", F.col("node"))
            .schema
        )
        a_np = tbl["a"].to_numpy().astype(np.int64, copy=False)
        b_np = tbl["b"].to_numpy().astype(np.int64, copy=False)
        codes, uniq = pd.factorize(
            np.concatenate([a_np, b_np]), use_na_sentinel=False
        )
        codes = codes.astype(np.int64, copy=False)
        a_idx, b_idx = codes[: len(a_np)], codes[len(a_np) :]
        uniq = uniq.astype(np.int64, copy=False)
        _MAX = np.iinfo(np.int64).max
        label = uniq.copy()
        # the convergence sum must be EXACT (labels are raw node ids,
        # whose int64 sum can overflow) — fold in Python ints like the
        # decimal sum of the distributed loop
        prev_sum = sum(label.tolist())
        for _ in range(max_iter):
            new = np.full(len(uniq), _MAX, dtype=np.int64)
            np.minimum.at(new, a_idx, label[b_idx])
            cur_sum = sum(new.tolist())
            label = new
            if cur_sum == prev_sum:
                order = np.argsort(uniq, kind="stable")
                return local_df(
                    edges.sparkSession,
                    list(zip(uniq[order].tolist(), label[order].tolist())),
                    schema,
                )
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # Labels only ever decrease, so the (exact, decimal) label sum is a
    # monotone potential: unchanged sum <=> no label changed. That makes
    # the convergence check a cheap aggregate instead of a self-join —
    # and the aggregate rides the SAME job that materializes the round
    # (observe + localCheckpoint), so each round is one job, not two
    # (r7; the separate post-checkpoint agg scan was pure per-round
    # fixed cost, and at scale a full extra pass over the labels).
    from pyspark.sql import Observation

    prev_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        ob = Observation()
        new_labels = (
            sym.join(labels, sym["b"] == labels["node"], "inner")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("comp"))
            .observe(
                ob, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = ob.get["s"]
        labels = new_labels
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def duplicate_clusters(
    pairs: DataFrame, id_1: str = "id_1", id_2: str = "id_2"
) -> DataFrame:
    """Near-dup pairs -> (node, cluster_rep). Singletons are absent by
    construction (a doc with no similar partner forms no cluster)."""
    return connected_components(pairs, id_1, id_2).withColumnRenamed(
        "comp", "cluster_rep"
    )


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic — link
    analysis for the duplicate/citation graphs this pipeline builds
    (rank duplicate clusters by centrality, pick canonical docs).

    All mass is tracked in integer ``unit``-ths (default ppb) with
    floor division at the two places real PageRank divides:
      contrib(u) = pr(u) // outdeg(u)
      pr'(v) = (unit * (100-d)) // (100 * N) + (d * sum contribs) // 100
    Floor division leaks a bounded trickle of mass (< N*outdeg units
    per round) instead of renormalizing — the tradeoff that makes every
    engine/partitioning produce IDENTICAL ranks; convergence behavior
    is unchanged for ranking purposes. Dangling mass is dropped (nodes
    with no out-edges contribute nothing), the standard simplification.

    Scale posture per iteration: one shuffle joining ranks to the edge
    list on ``src`` (partitioning reused across rounds since the key
    never changes), one groupBy(dst).sum; lineage is cut each round
    with localCheckpoint so the plan stays flat. A graph under the
    ``driver_table`` ceiling moves to the driver once and iterates there.

    Returns (node, pr) with pr in units; sum(pr) <= unit.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if unit > (2**63 - 1) // 100:
        # damping_pct * sum(contribs) must fit a BIGINT (sum of all
        # contributions is bounded by `unit`, the total mass).
        raise ValueError("unit must be <= (2^63-1)//100 to avoid overflow")
    # Lineage cut: `e` feeds THREE consumers (out_deg/ed, nodes) that
    # materialize in separate jobs — without it the caller's edge plan
    # and the distinct run once per consumer.
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Scale-adaptive algorithm choice (guide §1.2): a graph under the
    # driver_table ceiling solves in exact int64 arithmetic ON THE
    # DRIVER — the distributed loop pays ~10 rounds of tiny-shuffle
    # stage scheduling (~0.3 s/round at local[32]) for work numpy
    # finishes in milliseconds, and the integer contract (floor
    # division on non-negative values) is engine-independent, so both
    # paths are bit-identical by construction (pinned by test).
    tbl = driver_table(e, 2)
    if tbl is not None:
        node_type = (
            e.select(F.col("_s").alias("node"))
            .union(e.select(F.col("_d").alias("node")))
            .schema[0]
            .dataType
        )
        return _pagerank_driver_exact(
            edges.sparkSession, tbl, iterations, damping_pct, unit, node_type
        )
    out_deg = e.groupBy("_s").agg(F.count("*").alias("_deg"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    ).persist()
    n = nodes.count()
    base = (unit * (100 - damping_pct)) // (100 * n)
    pr = nodes.withColumn("pr", F.lit(unit // n).cast("long"))
    ed = e.join(out_deg, "_s").persist()
    for _ in range(iterations):
        # Integral `div`, not double `/` + cast: float division is only
        # floor-exact below ~2^53, and rounds UP across an integer once
        # 1/deg drops under half an ulp of pr (deg in the millions at a
        # 100 TB edge list) — either breaks the bit-exact contract.
        contribs = (
            ed.join(pr, ed["_s"] == pr["node"])
            .select("_d", F.expr("pr div _deg").alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_sc"))
        )
        pr = (
            nodes.join(contribs, nodes["node"] == contribs["_d"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"(CAST({damping_pct} AS BIGINT)"
                        " * coalesce(_sc, CAST(0 AS BIGINT))) div 100"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    nodes.unpersist()
    return pr


def _np_py(v):
    """numpy scalar -> the exact equivalent Python scalar; passthrough
    for everything else. The driver graph paths hand factorized node
    ids back to ``local_df``/createDataFrame, which wants plain Python
    objects."""
    return v.item() if isinstance(v, np.generic) else v


def _factorize_codes(parts, sort=False):
    """Factorize the concatenation of Arrow columns and Python
    sequences into int64 codes + the uniques list (Python scalars,
    ascending when ``sort``). NULLs get the one-past-the-end code —
    they form a single real group (SQL GROUP BY / set semantics treat
    them as one). Non-null integer columns stay int64 (no boxing);
    ``integer_object_nulls`` keeps nullable ones exact Python ints."""
    arrs = [
        np.asarray(
            p.to_pandas(integer_object_nulls=True)
            if isinstance(p, pa.ChunkedArray)
            else p
        )
        for p in parts
    ]
    codes, uniques = pd.factorize(
        np.concatenate([a for a in arrs if len(a)] or [np.empty(0, object)]),
        sort=sort,
        use_na_sentinel=True,
    )
    codes = codes.astype(np.int64, copy=False)
    n_uniq = len(uniques)
    codes[codes == -1] = n_uniq
    return codes, [_np_py(v) for v in uniques.tolist()]


def _pagerank_driver_exact(
    spark, tbl, iterations, damping_pct, unit, node_type
) -> DataFrame:
    """pagerank_exact's integer recurrence on the (_s, _d) edge table —
    bit-identical to the distributed loop: same floor divisions on the
    same non-negative int64 values, per-destination sums in int64
    (np.add.at — bincount would go through float64 and break exactness
    past 2^53)."""
    from pyspark.sql.types import LongType, StructField, StructType

    # sorted node ids; a NULL node is one more node, ordered last
    codes, nodes = _factorize_codes([tbl["_s"], tbl["_d"]], sort=True)
    null = len(nodes)
    if (codes == null).any():
        nodes.append(None)
    n = len(nodes)
    s_idx, d_idx = codes[: tbl.num_rows], codes[tbl.num_rows :]
    # the distributed loop's joins miss on NULL: an edge from a NULL
    # source passes no rank, and a NULL node receives none (it keeps
    # the teleport share alone)
    keep = s_idx != null
    s_idx, d_idx = s_idx[keep], d_idx[keep]
    deg = np.zeros(n, dtype=np.int64)
    np.add.at(deg, s_idx, 1)
    base = (unit * (100 - damping_pct)) // (100 * n)
    pr = np.full(n, unit // n, dtype=np.int64)
    deg_s = deg[s_idx]
    for _ in range(iterations):
        contrib = pr[s_idx] // deg_s
        sums = np.zeros(n, dtype=np.int64)
        np.add.at(sums, d_idx, contrib)
        sums[null:] = 0
        pr = base + (np.int64(damping_pct) * sums) // 100
    schema = StructType(
        [
            StructField("node", node_type, True),
            StructField("pr", LongType(), True),
        ]
    )
    return local_df(spark, list(zip(nodes, pr.tolist())), schema)


def k_hop_reachability(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds: DataFrame,
    k: int,
    edges_are_distinct: bool = False,
) -> DataFrame:
    """Level-synchronous BFS: every node within ``k`` directed hops of
    any seed, with its MINIMUM hop distance — the "blast radius" query
    over a flow/communication graph (which services are ≤ k hops from
    this pod), a read the reference's users run against the flow table's
    (local, remote) pairs.

    ``seeds`` is a 1-column DataFrame named ``node``. Returns
    ``(node, hops)``, hops in [0, k], one row per reached node.

    ``edges_are_distinct=True`` skips the defensive edge dedup: when
    the caller PROVES the edge list is duplicate-free (e.g. built from
    a distinct on narrower pre-projection keys), the full-width edge
    shuffle disappears and only the materialization remains. Duplicate edges would not change
    the result (BFS reachability is idempotent over parallel edges) —
    the dedup exists to bound the per-level join fan-out, so only skip
    it when duplicates genuinely cannot occur.

    Per level: one equi-join frontier⋈edges (keyed on src — the classic
    Pregel superstep), a distinct, and an anti-join against the visited
    set; each level's result is ``localCheckpoint``-ed so the loop's
    lineage stays flat; the driver sees only the per-level emptiness
    scalar. A graph under the ``driver_table`` ceiling moves to the
    driver once and the whole BFS runs there. Min-hops is implicit:
    a node joins `visited` the FIRST level it appears, and the anti-join
    keeps later sightings out.
    """
    visited = seeds.select(
        F.col("node"), F.lit(0).alias("hops")
    ).distinct().localCheckpoint(eager=True)
    frontier = visited.select("node")
    # Materialize the (distinct) edge list ONCE: each level launches its
    # own job, and without the lineage cut the caller's full upstream
    # edge-construction plan (typically a fact-scale join + distinct,
    # e.g. q293's orders⋈lineitem) re-executes EVERY level — k+1 scans
    # of the fact tables for a k-hop query (measured 5.3s → 2.6s at
    # sf0.1, guide §2.4/§5: remove repeated work, cut lineage).
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    if not edges_are_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)
    # Scale-adaptive algorithm choice (the pagerank_exact pattern): a
    # graph and seed set under the driver_table ceiling run the whole
    # level-synchronous BFS on the driver — the distributed loop pays
    # (join + distinct + anti-join + checkpoint + emptiness probe) of
    # tiny-shuffle scheduling per level for set operations the driver
    # finishes in a fraction of one such job. BFS work is O(edges)
    # total: each node's adjacency list is scanned at most once across
    # all levels. The driver path reproduces the SQL semantics exactly,
    # including the null quirks (a NULL edge src matches no frontier
    # row; a NULL destination re-enters `visited` every level because
    # the anti-join's null comparison never matches) — pinned by a
    # forced differential test.
    tbl = driver_table(e, 2)
    seed_tbl = None if tbl is None else driver_table(frontier, 1)
    if seed_tbl is not None:
        # result schema = the distributed loop's union schema (derived
        # from the SAME plan shape, never executed)
        schema = (
            visited.unionByName(
                e.select(F.col("_d").alias("node"), F.lit(0).alias("hops"))
            )
        ).schema
        # the seeds are already distinct (the checkpointed `visited`);
        # a NULL seed is reached at level 0 but matches no edge
        seed_list = seed_tbl["node"].to_pylist()
        out: list = [(n, 0) for n in seed_list]
        seed_nodes = [n for n in seed_list if n is not None]
        # Factorize node ids (edge endpoints + seeds) to dense int64
        # codes; NULL gets the one-past-the-end code. CSR adjacency
        # (stable argsort on src code + searchsorted row starts) makes
        # each level a handful of numpy slices — O(edges) total, in C.
        m = tbl.num_rows
        codes, uniq_objs = _factorize_codes([tbl["_s"], tbl["_d"], seed_nodes])
        n_uniq = len(uniq_objs)
        null_code = n_uniq
        s_idx = codes[:m]
        d_idx = codes[m : 2 * m]
        seed_idx = codes[2 * m :]
        order = np.argsort(s_idx, kind="stable")
        ss = s_idx[order]
        dd = d_idx[order]
        # starts has an entry for every code INCLUDING null_code's
        # bracket: NULL-src edges sort last and are never visited (a
        # NULL src matches no frontier row).
        starts = np.searchsorted(ss, np.arange(n_uniq + 2))
        seen = np.zeros(n_uniq + 1, dtype=bool)
        seen[seed_idx] = True
        front = seed_idx
        empty = np.empty(0, dtype=np.int64)
        for level in range(1, k + 1):
            if front.size:
                cand = np.unique(
                    np.concatenate([dd[starts[f] : starts[f + 1]] for f in front])
                )
            else:
                cand = empty
            # null_code is the maximum code, so a NULL destination (if
            # any) is the last candidate
            saw_null_dst = bool(cand.size) and cand[-1] == null_code
            if saw_null_dst:
                cand = cand[:-1]
            fresh = cand[~seen[cand]]
            if fresh.size == 0 and not saw_null_dst:
                break
            seen[fresh] = True
            # same deterministic emit order as the set-based
            # formulation: sorted by (type, value)
            for n in sorted(
                (uniq_objs[c] for c in fresh),
                key=lambda v: (str(type(v)), v),
            ):
                out.append((n, level))
            if saw_null_dst:
                # null never equals null in the anti-join: a NULL
                # destination re-enters visited at EVERY level one of
                # its sources is on the frontier
                out.append((None, level))
            front = fresh
        return local_df(edges.sparkSession, out, schema)
    for level in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(level))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        # visited is a union of ≤ k+1 already-checkpointed level frames
        # — flat lineage by construction, so no per-level checkpoint of
        # the union itself (it was one extra job per level).
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def temporal_reachability(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    ts_col: str,
    seeds: DataFrame,
    rounds: int,
    edges_are_distinct: bool = False,
) -> DataFrame:
    """Time-respecting reachability ("taint spread"): the earliest time
    each node can be reached from the seeds along paths whose edge
    timestamps NEVER DECREASE — data can only propagate forward in
    time. The security read over a flow graph: "what could data
    exfiltrated from pod X at t0 have reached, and when, at the
    earliest".

    ``seeds`` is (node, arrival). Each of ``rounds`` Bellman-Ford-style
    relaxations joins the CURRENT min-arrival table to the edge list
    with the time constraint ``edge.ts >= arrival(src)`` and folds
    ``min(edge.ts)`` into the arrival table — keeping only the minimum
    arrival per node is lossless here (an earlier arrival enables a
    superset of onward edges), which is what keeps state O(nodes)
    instead of O(paths). After k rounds the table holds every node
    reachable by a time-respecting path of ≤ k hops with its exact
    earliest arrival.

    Per round: one equi-join (keyed on src) + one min-aggregation;
    lineage cut per round. A graph under the ``driver_table`` ceiling
    moves to the driver once and every round runs there.

    ``edges_are_distinct=True``: as in :func:`k_hop_reachability` —
    duplicate edges cannot change the min-arrival result, the dedup
    only bounds join fan-out; skip it when the caller proves the edge
    list is already duplicate-free.
    """
    # Same lineage cut as k_hop_reachability: without it every
    # relaxation round re-executes the caller's edge-construction plan.
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(ts_col).cast("long").alias("_t"),
    )
    if not edges_are_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)
    arr = (
        seeds.select("node", F.col("arrival").cast("long").alias("arrival"))
        .groupBy("node")
        .agg(F.min("arrival").alias("arrival"))
        .localCheckpoint(eager=True)
    )
    # Driver solve under the driver_table ceiling (the k_hop_reachability
    # pattern): `rounds` Bellman-Ford relaxations over one Arrow edge
    # table; the distributed loop pays a join + min-agg + checkpoint of
    # tiny-shuffle scheduling per round. The relaxation is vectorized
    # int64 numpy (node ids factorized to codes; per-round min via
    # np.minimum.at on the round-start snapshot). SQL semantics
    # reproduced exactly: a NULL src/ts edge relaxes nothing (filtered
    # engine-side, before the probe — the ceiling counts only edges
    # that can relax), a NULL-arrival row enables nothing, NULL
    # destinations form ONE group whose min folds like any other
    # (GROUP BY treats nulls as equal), and MIN ignores nulls. Pinned
    # by a forced differential test.
    tbl = driver_table(
        e.where(F.col("_s").isNotNull() & F.col("_t").isNotNull()), 3
    )
    seed_tbl = None if tbl is None else driver_table(arr, 2)
    if seed_tbl is not None:
        # Factorize every node id (edge endpoints + seed nodes) to a
        # dense code; NULL destinations/seeds form ONE real group and
        # get their own slot past the uniques.
        m = tbl.num_rows
        codes, uniq_objs = _factorize_codes(
            [tbl["_s"], tbl["_d"], seed_tbl["node"]]
        )
        null_code = len(uniq_objs)
        n_nodes = null_code + 1
        s_idx = codes[:m]
        d_idx = codes[m : 2 * m]
        seed_idx = codes[2 * m :]
        tt = tbl["_t"].to_numpy()
        # State per node code: known (has an arrival row), isnull
        # (known with NULL arrival), vals (arrival; garbage where not
        # known/non-null — every read is masked). Seed nodes are
        # distinct: `arr` is already min-folded per node.
        _INF = np.iinfo(np.int64).max
        vals = np.full(n_nodes, _INF, dtype=np.int64)
        known = np.zeros(n_nodes, dtype=bool)
        isnull = np.zeros(n_nodes, dtype=bool)
        known[seed_idx] = True
        isnull[seed_idx] = seed_tbl["arrival"].is_null().to_numpy()
        vals[seed_idx] = seed_tbl["arrival"].fill_null(_INF).to_numpy()
        for _ in range(rounds):
            # All reads use the round-start state; np.where/copy
            # semantics below never mutate the arrays the mask read.
            mask = known[s_idx] & ~isnull[s_idx] & (tt >= vals[s_idx])
            dm = d_idx[mask]
            tm = tt[mask]
            # min-fold of this round's relaxations into the arrivals:
            # unknown / NULL-arrival targets fold from +inf.
            base = np.where(known & ~isnull, vals, _INF)
            np.minimum.at(base, dm, tm)
            hits = np.zeros(n_nodes, dtype=bool)
            hits[dm] = True
            vals = np.where(hits | (known & ~isnull), base, vals)
            isnull = isnull & ~hits
            known = known | hits
        items = [
            (
                None if c == null_code else uniq_objs[c],
                None if isnull[c] else int(vals[c]),
            )
            for c in np.flatnonzero(known)
        ]
        items.sort(key=lambda kv: (kv[0] is None, str(kv[0])))
        # result schema = the distributed loop's (never executed)
        schema = (
            arr.unionByName(
                e.select(F.col("_d").alias("node"), F.col("_t").alias("arrival"))
            )
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .schema
        )
        return local_df(edges.sparkSession, items, schema)
    for _ in range(rounds):
        step = (
            arr.join(e, (arr["node"] == e["_s"]) & (e["_t"] >= arr["arrival"]))
            .select(F.col("_d").alias("node"), F.col("_t").alias("arrival"))
        )
        arr = (
            arr.unionByName(step)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=True)
        )
    return arr
