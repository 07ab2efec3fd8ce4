"""Longest-prefix-match (LPM) join.

The reference resolves a remote IP to the most specific containing cloud
prefix with an in-memory IPv4 trie (`ElementsContaining` ->
`LongestPrefixMatch`, reference pkg/labeler/remote.go:177-186, trie built
at remote.go:23-26). It is the only non-equi join in the reference.

Spark-first design (SURVEY.md §2 J5): instead of a trie, a *banded range
join* —

1. every prefix ``[net_start, net_end]`` is exploded into the /16 "bands"
   it covers (``net_start>>16 .. net_end>>16``); a prefix with
   ``prefix_len >= 16`` lands in exactly one band, a /8 in 256 bands —
   the 43k-prefix dimension (reference README.md:127) stays tiny;
2. probes join the banded dimension **equi** on ``band = ip >> 16`` (a
   broadcast hash join — no nested-loop range join, no shuffle of the
   probe side), then filter ``BETWEEN net_start AND net_end``;
3. the longest prefix wins via ``max_by(struct, prefix_len)`` per probe —
   a map-side-combinable aggregation rather than a row_number window, so
   the only shuffle is the final per-IP reduce.

At 100 TB the probe side should be ``.select(ip).distinct()`` first
so the reduce is over distinct IPs, not fact rows. The labeler
(flowsql.py) uses the shuffle-free disjoint-interval form instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BAND_SHIFT = 16

MATCH_COLS = ["prefix", "prefix_len", "cloud", "service", "region"]


def band_prefixes(prefixes: DataFrame) -> DataFrame:
    """Explode the prefix dimension into /16 bands for the equi join."""
    return prefixes.withColumn(
        "band",
        F.explode(
            F.sequence(
                F.shiftright(F.col("net_start"), BAND_SHIFT),
                F.shiftright(F.col("net_end"), BAND_SHIFT),
            )
        ),
    )


def disjoint_prefixes(prefixes: DataFrame) -> DataFrame:
    """Flatten a (possibly nested/overlapping) prefix dimension into
    DISJOINT intervals, each carrying the attributes of its LPM winner.

    Sweep construction: every ``net_start`` and ``net_end + 1`` is a
    boundary; between two consecutive boundaries the set of covering
    prefixes is constant, so the winner (max ``prefix_len``, tie-break
    ``-net_start`` — same rule as :func:`lpm_lookup`) is constant too.
    Segments covered by no prefix are dropped (a miss stays a miss).

    Run once at dim-build time (~43k prefixes → ≤ ~87k segments,
    reference README.md:127); the global sort window is over the tiny
    dimension, never over fact rows. The payoff: LPM against the result
    is a single broadcast equi+range join per fact row — no distinct, no
    per-IP reduce shuffle, and legal inside the Structured Streaming DSL
    (see streaming/job.py).
    """
    from pyspark.sql.window import Window

    bounds = (
        prefixes.select(F.col("net_start").alias("pt"))
        .unionByName(prefixes.select((F.col("net_end") + 1).alias("pt")))
        .distinct()
    )
    segs = (
        bounds.withColumn("seg_end", F.lead("pt").over(Window.orderBy("pt")) - 1)
        .filter(F.col("seg_end").isNotNull())
        .select(F.col("pt").alias("seg_start"), "seg_end")
    )
    banded_segs = segs.withColumn(
        "band", F.shiftright(F.col("seg_start"), BAND_SHIFT)
    )
    cand = banded_segs.alias("s").join(
        F.broadcast(band_prefixes(prefixes)).alias("p"),
        (F.col("s.band") == F.col("p.band"))
        & F.col("s.seg_start").between(F.col("p.net_start"), F.col("p.net_end")),
        "inner",
    )
    return (
        cand.groupBy("seg_start", "seg_end")
        .agg(
            F.max_by(
                F.struct(*MATCH_COLS), F.struct(F.col("prefix_len"), -F.col("net_start"))
            ).alias("_m")
        )
        .select("seg_start", "seg_end", *[F.col(f"_m.{c}").alias(c) for c in MATCH_COLS])
    )


def band_segments(disjoint: DataFrame) -> DataFrame:
    """A :func:`disjoint_prefixes` dimension exploded into the /16
    bands each segment covers — the build side of the banded
    equi+range join."""
    return disjoint.withColumn(
        "band",
        F.explode(
            F.sequence(
                F.shiftright(F.col("seg_start"), BAND_SHIFT),
                F.shiftright(F.col("seg_end"), BAND_SHIFT),
            )
        ),
    ).select("band", "seg_start", "seg_end", *MATCH_COLS)


def lpm_lookup_disjoint(
    ips: DataFrame,
    disjoint: DataFrame,
    ip_num_col: str = "ip_num",
    out_prefix: str = "lpm_",
) -> DataFrame:
    """LPM against a :func:`disjoint_prefixes` dimension: one broadcast
    equi+range left join, zero shuffles on the probe side, streaming-safe.
    """
    banded = F.broadcast(band_segments(disjoint))
    joined = ips.join(
        banded,
        (F.shiftright(F.col(ip_num_col), BAND_SHIFT) == banded["band"])
        & F.col(ip_num_col).between(F.col("seg_start"), F.col("seg_end")),
        "left",
    )
    return joined.select(
        *[c for c in ips.columns],
        *[F.col(c).alias(out_prefix + c) for c in MATCH_COLS],
    )


def lpm_lookup(
    ips: DataFrame,
    prefixes: DataFrame,
    ip_num_col: str = "ip_num",
    out_prefix: str = "lpm_",
) -> DataFrame:
    """Append the longest-prefix-match columns to ``ips``.

    ``ips`` must carry a numeric IPv4 column ``ip_num_col``; one output row
    per input row; misses yield nulls (the reference treats a trie miss as
    "public internet", reference pkg/labeler/remote.go:177-186).
    """
    banded = F.broadcast(band_prefixes(prefixes))
    probes = ips.select(F.col(ip_num_col).alias("_ip")).distinct()
    cand = probes.join(
        banded,
        (F.shiftright(F.col("_ip"), BAND_SHIFT) == banded["band"])
        & F.col("_ip").between(F.col("net_start"), F.col("net_end")),
        "inner",
    )
    best = cand.groupBy("_ip").agg(
        F.max_by(
            F.struct(*MATCH_COLS),
            # tie-break deterministically on (prefix_len, net_start): equal
            # lengths cannot overlap for real CIDRs, but synthetic dims may.
            F.struct(F.col("prefix_len"), -F.col("net_start")),
        ).alias("_m")
    )
    best = best.select(
        "_ip", *[F.col(f"_m.{c}").alias(out_prefix + c) for c in MATCH_COLS]
    )
    # No broadcast hint on the join-back: `best` is bounded by the number of
    # distinct IPs, which AQE can size at runtime (small -> broadcast anyway;
    # huge at 100 TB -> shuffled hash join is the right call).
    return ips.join(best, ips[ip_num_col] == best["_ip"], "left").drop("_ip")


# --- IPv6 longest-prefix match -----------------------------------------
#
# The reference DROPS IPv6 flows outright (pkg/labeler/labeler.go:243-247
# filters them; the proto carries v6 as opaque bytes) — a real metering
# gap this engine closes. Addresses are (hi, lo) SIGNED int64 pairs
# holding the raw 128 bits; unsigned comparison is the XOR-sign-bit
# trick (x ^ MIN_LONG flips the top bit, making signed order equal
# unsigned order) — pure integer expressions, portable to any engine
# with a 64-bit xor.

_SIGN = -(2**63)


def ux_sql(c: str) -> str:
    """``c`` with its sign bit flipped, as SQL text: signed order of
    the result is unsigned order of ``c``."""
    return f"({c} ^ {_SIGN}L)"


def pair_lte_sql(a_hi: str, a_lo: str, b_hi: str, b_lo: str) -> str:
    """unsigned (a_hi, a_lo) <= (b_hi, b_lo), as SQL text"""
    return (
        f"({ux_sql(a_hi)} < {ux_sql(b_hi)}"
        f" OR ({a_hi} = {b_hi} AND {ux_sql(a_lo)} <= {ux_sql(b_lo)}))"
    )


def prefixes6_from_cidrs(spark, rows):
    """Build the v6 prefix dimension from CIDR strings:
    rows = [(cidr, cloud, service, region), ...] -> DataFrame with
    (net_hi, net_lo, end_hi, end_lo, prefix_len, cloud, service,
    region). Parsing uses Python's ipaddress on the DRIVER — the
    dimension is feed-sized (tens of thousands of rows, rebuilt daily),
    never fact-sized, so this is the same posture as the v4 feed
    parsers."""
    import ipaddress

    def split128(v: int) -> tuple[int, int]:
        hi = (v >> 64) & 0xFFFFFFFFFFFFFFFF
        lo = v & 0xFFFFFFFFFFFFFFFF
        # reinterpret as signed int64
        if hi >= 2**63:
            hi -= 2**64
        if lo >= 2**63:
            lo -= 2**64
        return hi, lo

    out = []
    for cidr, cloud, service, region in rows:
        net = ipaddress.ip_network(cidr, strict=False)
        s_hi, s_lo = split128(int(net.network_address))
        e_hi, e_lo = split128(int(net.broadcast_address))
        out.append(
            (s_hi, s_lo, e_hi, e_lo, net.prefixlen, cloud, service, region)
        )
    # ONE partition, JVM-scanned (tables.local_df): the v6 sweep scans
    # this dim several times, and each scan is one task with no
    # Python worker.
    from kubenetmon_spark.tables import local_df

    return local_df(
        spark,
        out,
        "net_hi long, net_lo long, end_hi long, end_lo long,"
        " prefix_len int, cloud string, service string, region string",
    )


#: /32-of-hi banding for v6 segments: band = top 32 bits of the
#: sign-flipped hi word, monotone in unsigned (hi, lo) order.
_BAND6_SHIFT = 32
#: segments spanning more than this many bands skip banding and go
#: through the (tiny) wide-segment nested-loop side instead — so a
#: ::/0 or /8 feed entry can never explode the band sequence.
_BAND6_MAX_SPAN = 4096

_MATCH6 = ["prefix_len", "cloud", "service", "region"]


def band6_sql(hi: str) -> str:
    """The /32-of-hi band of ``hi``, as SQL text."""
    return f"shiftrightunsigned({ux_sql(hi)}, {_BAND6_SHIFT})"


def disjoint_prefixes6(prefixes6: DataFrame) -> DataFrame:
    """Flatten a (possibly nested/overlapping) IPv6 prefix dimension
    into DISJOINT 128-bit intervals carrying their LPM winner's
    attributes — the (hi, lo)-pair port of :func:`disjoint_prefixes`.

    Sweep construction over unsigned (hi, lo) order (xor-sign-bit
    trick): boundaries are every ``net`` and every ``end + 1`` (128-bit
    increment with carry; an ``end`` at all-ones contributes no upper
    boundary — the final segment runs to the end of the address space,
    so ``ff00::/8`` and ``::/0`` close correctly). Between consecutive
    boundaries the covering set is constant; the winner is
    ``max_by(struct, (prefix_len, ~ux(net_hi), ~ux(net_lo)))`` —
    longest prefix, ties to the unsigned-lowest net (bitwise NOT, not
    negation: ``-ux`` overflows at MIN_LONG). Uncovered segments drop
    (a miss stays a miss).

    Runs once at dim-build time over the feed-sized dimension — the
    global sort window orders boundary points, never fact rows.
    """
    from pyspark.sql.window import Window

    all_ones = (F.col("end_hi") == -1) & (F.col("end_lo") == -1)
    inc_hi = F.when(F.col("end_lo") == -1, F.col("end_hi") + 1).otherwise(
        F.col("end_hi")
    )
    inc_lo = (
        F.when(F.col("end_lo") == -1, F.lit(0))
        .otherwise(F.col("end_lo") + 1)
        .cast("long")
    )
    pts = (
        prefixes6.select(
            F.col("net_hi").alias("pt_hi"), F.col("net_lo").alias("pt_lo")
        )
        .unionByName(
            prefixes6.filter(~all_ones).select(
                inc_hi.alias("pt_hi"), inc_lo.alias("pt_lo")
            )
        )
        .distinct()
    )
    w = Window.orderBy(F.expr(ux_sql("pt_hi")), F.expr(ux_sql("pt_lo")))
    nxt_hi = F.lead("pt_hi").over(w)
    nxt_lo = F.lead("pt_lo").over(w)
    # segment end = next boundary - 1 (128-bit decrement with borrow);
    # no next boundary -> the segment runs to ffff..ffff
    segs = pts.select(
        F.col("pt_hi").alias("s_hi"),
        F.col("pt_lo").alias("s_lo"),
        F.when(nxt_hi.isNull(), F.lit(-1))
        .when(nxt_lo == 0, nxt_hi - 1)
        .otherwise(nxt_hi)
        .cast("long")
        .alias("e_hi"),
        F.when(nxt_hi.isNull(), F.lit(-1))
        .when(nxt_lo == 0, F.lit(-1))
        .otherwise(nxt_lo - 1)
        .cast("long")
        .alias("e_lo"),
    )
    p = F.broadcast(prefixes6)
    cand = segs.alias("s").join(
        p.alias("p"),
        F.expr(
            pair_lte_sql("p.net_hi", "p.net_lo", "s.s_hi", "s.s_lo")
            + " AND "
            + pair_lte_sql("s.s_hi", "s.s_lo", "p.end_hi", "p.end_lo")
        ),
        "inner",
    )
    not_ux = lambda c: F.expr(f"~{ux_sql(c)}")
    return (
        cand.groupBy("s_hi", "s_lo", "e_hi", "e_lo")
        .agg(
            F.max_by(
                F.struct(*_MATCH6),
                F.struct(
                    F.col("prefix_len"),
                    not_ux("net_hi"),
                    not_ux("net_lo"),
                ),
            ).alias("_m")
        )
        .select(
            "s_hi",
            "s_lo",
            "e_hi",
            "e_lo",
            *[F.col(f"_m.{c}").alias(c) for c in _MATCH6],
        )
    )


def lpm_lookup6(
    ips: DataFrame,
    prefixes6: DataFrame,
    hi_col: str = "ip_hi",
    lo_col: str = "ip_lo",
    out_prefix: str = "r_",
    disjoint: DataFrame | None = None,
) -> DataFrame:
    """IPv6 longest-prefix match on the disjoint-interval design —
    the exact v4 zero-fact-shuffle posture (:func:`lpm_lookup_disjoint`)
    ported to 128-bit (hi, lo) pairs. Misses keep null detail (public
    internet), mirroring the v4 contract; the reference behavior being
    beaten is a trie lookup (reference pkg/labeler/remote.go:177-186)
    over v4 only — it DROPS v6 flows (labeler.go:243-247).

    Plan shape: the dim flattens to disjoint intervals once
    (:func:`disjoint_prefixes6` — pass ``disjoint`` to reuse a cached
    build across micro-batches), then fact rows take TWO broadcast left
    joins, each matching at most one segment:

    - narrow segments (≤ ``_BAND6_MAX_SPAN`` /32-of-hi bands) explode
      into bands and join EQUI on ``band(ip_hi)`` + range-filter — a
      broadcast HASH join, so the per-row probe cost is the band
      bucket, not the dimension;
    - wide segments (short prefixes like ::/0 — a handful at most) use
      a broadcast nested-loop join; the tiny row count bounds the scan.

    Disjointness means no per-row winner pick at all: no window, no
    groupBy, ZERO fact-side shuffle or sort — streaming-legal, and the
    plan test asserts the probe side stays exchange-free.
    """
    d = disjoint if disjoint is not None else disjoint_prefixes6(prefixes6)
    narrow, wide = lpm6_sides(d)
    step1 = ips.join(
        F.broadcast(narrow),
        F.expr(lpm6_narrow_on_sql(hi_col, lo_col, "_band", "s_hi", "s_lo", "e_hi", "e_lo")),
        "left",
    ).drop("_band", "s_hi", "s_lo", "e_hi", "e_lo")
    step2 = step1.join(
        F.broadcast(wide),
        F.expr(lpm6_wide_on_sql(hi_col, lo_col, "_w_s_hi", "_w_s_lo", "_w_e_hi", "_w_e_lo")),
        "left",
    )
    return step2.select(
        *[F.col(c) for c in ips.columns],
        *[
            F.coalesce(F.col(f"_n_{c}"), F.col(f"_w_{c}")).alias(
                f"{out_prefix}{c}"
            )
            for c in _MATCH6
        ],
    )


def lpm6_sides(disjoint6: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two broadcast sides of the v6 LPM over a
    :func:`disjoint_prefixes6` dimension: ``narrow`` (segments of at
    most ``_BAND6_MAX_SPAN`` bands, exploded per band, attributes as
    ``_n_*``) and ``wide`` (the rest, columns ``_w_*``)."""
    span = F.expr(f"{band6_sql('e_hi')} - {band6_sql('s_hi')}")
    narrow = (
        disjoint6.filter(span <= _BAND6_MAX_SPAN)
        .withColumn(
            "_band",
            F.explode(F.expr(f"sequence({band6_sql('s_hi')}, {band6_sql('e_hi')})")),
        )
        .select(
            "_band",
            "s_hi",
            "s_lo",
            "e_hi",
            "e_lo",
            *[F.col(c).alias(f"_n_{c}") for c in _MATCH6],
        )
    )
    wide = disjoint6.filter(span > _BAND6_MAX_SPAN).select(
        F.col("s_hi").alias("_w_s_hi"),
        F.col("s_lo").alias("_w_s_lo"),
        F.col("e_hi").alias("_w_e_hi"),
        F.col("e_lo").alias("_w_e_lo"),
        *[F.col(c).alias(f"_w_{c}") for c in _MATCH6],
    )
    return narrow, wide


def lpm6_narrow_on_sql(hi, lo, band, s_hi, s_lo, e_hi, e_lo) -> str:
    """Join condition of a probe (hi, lo) against the narrow side: the
    band equi key plus the unsigned range test, as SQL text."""
    return (
        f"{band6_sql(hi)} = {band} AND {pair_lte_sql(s_hi, s_lo, hi, lo)}"
        f" AND {pair_lte_sql(hi, lo, e_hi, e_lo)}"
    )


def lpm6_wide_on_sql(hi, lo, s_hi, s_lo, e_hi, e_lo) -> str:
    """Join condition against the wide side: the range test only (a
    nested-loop join over a handful of rows), as SQL text."""
    return f"{pair_lte_sql(s_hi, s_lo, hi, lo)} AND {pair_lte_sql(hi, lo, e_hi, e_lo)}"
