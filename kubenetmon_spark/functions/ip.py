"""IP helpers: each expression is defined ONCE as SQL text, and the
Column helper wraps that text in ``F.expr`` (no UDFs, no regex in the
v4 path).

The labeler (flowsql.py) embeds the ``*_sql`` forms in its one query
text; DataFrame callers use the Column forms. Both therefore evaluate
the same expression tree.

The reference carries IPv4 as big-endian uint32 in the protobuf
(reference pkg/grpc/flow_handler.proto:34, pkg/collector/collector.go:252-255)
and renders dotted-quad at insert time. We keep both forms: dotted string
for readability, numeric long for range joins (LPM).
"""

from __future__ import annotations

import ipaddress

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_arg(c: Column | str) -> str:
    """A helper argument as SQL text. A ``str`` is a column name or a
    SQL expression. A Column must be a plain column reference or an
    ``F.expr`` column (e.g. another helper's result); anything else has
    no faithful SQL rendering, so pass its SQL text instead."""
    if isinstance(c, str):
        return c
    node = c._jc.node()
    if node.getClass().getSimpleName() not in (
        "UnresolvedAttribute",
        "SqlExpression",
    ):
        raise TypeError(
            "pass a column name, an F.col reference or an F.expr column"
        )
    return f"({node.sql()})"


def ip_to_long_sql(ip: str) -> str:
    """Dotted-quad SQL expression -> numeric (big-endian uint32 as
    long), as SQL text.

    Total function: NULL unless there are exactly four octets, each an
    integer in 0-255 (so a v6 string, '1.2.3', '1.2.3.4.5' or
    '1.2.3.999' all yield NULL instead of a wrong address). The fold
    starts from a leading 1: after k valid octets the accumulator is in
    [256^k, 2*256^k), so ``acc >= 2^32`` means exactly four, and a
    fifth octet or an out-of-range one nulls the fold. try_cast keeps a
    garbage octet from raising an ANSI cast error.
    """
    return (
        f"aggregate(transform(split({ip}, '\\\\.'), x -> try_cast(x AS LONG)), "
        "CAST(1 AS LONG), (acc, x) -> CASE WHEN acc < 4294967296 "
        "AND x BETWEEN 0 AND 255 THEN acc * 256 + x END, "
        "acc -> CASE WHEN acc >= 4294967296 THEN acc - 4294967296 END)"
    )


def ip_to_long(ip: Column | str) -> Column:
    """Column form of :func:`ip_to_long_sql`."""
    return F.expr(ip_to_long_sql(_sql_arg(ip)))


def long_to_ip_sql(num: str) -> str:
    """Numeric -> dotted-quad string, as SQL text."""
    octets = ", ".join(
        f"shiftright({num}, {s}) & 255" for s in (24, 16, 8)
    )
    return f"format_string('%d.%d.%d.%d', {octets}, {num} & 255)"


def long_to_ip(num: Column | str) -> Column:
    """Column form of :func:`long_to_ip_sql`."""
    return F.expr(long_to_ip_sql(_sql_arg(num)))


def py_ip_to_long(ip: str) -> int:
    """Driver-side helper (dimension building, test fixtures)."""
    return int(ipaddress.IPv4Address(ip))


_PRIVATE_V4 = [
    ("10.0.0.0", "10.255.255.255"),
    ("172.16.0.0", "172.31.255.255"),
    ("192.168.0.0", "192.168.255.255"),
    ("127.0.0.0", "127.255.255.255"),
    ("169.254.0.0", "169.254.255.255"),
]


def is_private_ip_num_sql(num: str) -> str:
    """RFC1918 + loopback + link-local predicate on the numeric form,
    as SQL text.

    Mirrors the reference's private-IP short-circuit that bypasses the
    cloud-prefix LPM lookup (reference pkg/labeler/remote.go:131-140:
    ``IsPrivate() || IsLocal() || IsLoopback()`` — site-local RFC1918,
    link-local 169.254/16, loopback, and the unspecified address).
    """
    parts = [
        f"({num} >= {py_ip_to_long(a)} AND {num} <= {py_ip_to_long(b)})"
        for a, b in _PRIVATE_V4
    ]
    parts.append(f"{num} = 0")  # unspecified 0.0.0.0
    return "(" + " OR ".join(parts) + ")"


def is_private_ip_num(num: Column | str) -> Column:
    """Column form of :func:`is_private_ip_num_sql`."""
    return F.expr(is_private_ip_num_sql(_sql_arg(num)))


def ipv6_pair_to_string(hi, lo):
    """(hi, lo) int64 pair -> full uncompressed lowercase IPv6 string
    ("2001:0db8:0000:..."), for display/joins on the v6 metering path
    (operators/lpm.py::lpm_lookup6). Pure hex/format expressions —
    no UDF; the :: compression is presentation sugar readers don't
    need and engines disagree on, so the canonical form is fixed-width.
    """

    def grp(col, shift):
        return F.lpad(
            F.lower(F.hex(F.shiftrightunsigned(col, shift).bitwiseAND(F.lit(0xFFFF)))),
            4,
            "0",
        )

    parts = [grp(hi, s) for s in (48, 32, 16, 0)] + [
        grp(lo, s) for s in (48, 32, 16, 0)
    ]
    return F.concat_ws(":", *parts)


def is_private_ipv6_pair_sql(hi: str, lo: str) -> str:
    """v6 analogue of :func:`is_private_ip_num_sql` (labeler J6
    short-circuit, reference pkg/labeler/remote.go:131-140), as SQL
    text: true for ULA fc00::/7, link-local fe80::/10, and loopback
    ::1 — the ranges that must bypass the cloud-prefix LPM and classify
    as INTRA_VPC/local. Pure bit tests on the hi64; loopback checks
    both halves.
    """
    return (
        f"(shiftrightunsigned({hi}, 57) = {0x7E}"  # fc00::/7
        f" OR shiftrightunsigned({hi}, 54) = {0x3FA}"  # fe80::/10
        f" OR ({hi} = 0 AND {lo} = 1))"  # ::1
    )


def is_private_ipv6_pair(hi: Column | str, lo: Column | str) -> Column:
    """Column form of :func:`is_private_ipv6_pair_sql`."""
    return F.expr(is_private_ipv6_pair_sql(_sql_arg(hi), _sql_arg(lo)))


_HEXG = "[0-9a-f]{1,4}"


def ipv6_groups_sql(ip: str) -> str:
    """IPv6 string (full or ``::``-compressed) -> validated 8-element
    hex-group array, or NULL for out-of-contract forms (dotted-quad
    tails, zone ids, multi-``::``, wrong group counts), as SQL text.

    ONE whole-string regex per form decides validity (not a per-group
    regex — this expression runs per FACT ROW in the labeler, so the
    regex count is the cost driver), then array ops expand the ``::``.
    Stage this into a real column and feed :func:`ipv6_pair_sql` so the
    parse is evaluated once per row, not once per consumer of the
    pair. ``pad >= 1``: '::' must stand for AT LEAST one zero group
    ('1:2:3:4:5:6:7::8' is RFC-invalid and must null, not parse)."""
    c = f"lower({ip})"
    full_ok = f"{c} RLIKE '^{_HEXG}(:{_HEXG}){{7}}$'"
    comp_ok = f"{c} RLIKE '^({_HEXG}(:{_HEXG})*)?::({_HEXG}(:{_HEXG})*)?$'"
    parts = f"split({c}, '::')"
    lg = f"filter(split({parts}[0], ':'), x -> x != '')"
    rg = (
        f"filter(split(CASE WHEN size({parts}) = 2 THEN {parts}[1] END, ':'),"
        " x -> x != '')"
    )
    pad = f"(8 - size({lg}) - size({rg}))"
    return (
        f"CASE WHEN NOT contains({c}, '::') AND {full_ok} THEN split({c}, ':') "
        f"WHEN contains({c}, '::') AND {comp_ok} AND {pad} >= 1 "
        f"THEN concat({lg}, array_repeat('0', CAST({pad} AS INT)), {rg}) END"
    )


def ipv6_pair_sql(groups: str) -> tuple[str, str]:
    """Validated group array (:func:`ipv6_groups_sql`, ideally staged
    as a column) -> signed int64 ``(hi, lo)`` as two SQL texts.
    ``conv`` + ``shiftleft`` wrap top-bit addresses into the signed
    int64 exactly like the dimension's split128; a NULL array yields a
    NULL pair."""
    g = [f"CAST(conv({groups}[{i}], 16, 10) AS BIGINT)" for i in range(8)]

    def word(gs):
        return (
            f"(shiftleft({gs[0]}, 48) | shiftleft({gs[1]}, 32)"
            f" | shiftleft({gs[2]}, 16) | {gs[3]})"
        )

    return word(g[:4]), word(g[4:])


def ipv6_pair_from_groups(groups: Column | str) -> tuple[Column, Column]:
    """Column form of :func:`ipv6_pair_sql`."""
    hi, lo = ipv6_pair_sql(_sql_arg(groups))
    return F.expr(hi), F.expr(lo)


def ipv6_string_to_pair(col: Column | str) -> tuple[Column, Column]:
    """IPv6 string (full or ``::``-compressed hex groups) -> signed
    int64 ``(hi, lo)`` pair — the 128-bit form the v6 LPM joins on
    (operators/lpm.py). Pure SQL expressions, no UDF.

    Parse contract: hex groups (any case), at most one ``::``;
    dotted-quad tails, zone ids, and malformed group counts yield a
    NULL pair, which the labeler turns into a per-row reject (fail
    loud, never misclassify). Hot paths should stage
    :func:`ipv6_groups_sql` into a column and use
    :func:`ipv6_pair_sql` (one parse per row)."""
    return ipv6_pair_from_groups(f"({ipv6_groups_sql(_sql_arg(col))})")
