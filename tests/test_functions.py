from __future__ import annotations

from pyspark.sql import functions as F

from kubenetmon_spark.functions import (
    canonical_flags_json,
    format_readable_size,
    ip_to_long,
    is_private_ip_num,
    long_to_ip,
    py_ip_to_long,
)


def test_ip_roundtrip(spark):
    ips = ["0.0.0.0", "10.0.0.1", "127.0.0.1", "192.168.255.254", "255.255.255.255", "1.2.3.4"]
    df = spark.createDataFrame([(ip,) for ip in ips], "ip string")
    rows = df.select(
        "ip", ip_to_long("ip").alias("n"), long_to_ip(ip_to_long("ip")).alias("back")
    ).collect()
    for row in rows:
        assert row.n == py_ip_to_long(row.ip)
        assert row.back == row.ip


def test_ip_to_long_rejects_non_dotted_quads(spark):
    # exactly four octets, each 0-255, or NULL — a short, long or
    # out-of-range form must never fold to some other address
    bad = ["1.2.3", "10.0.0", "1.2.3.4.5", "1.2.3.999", "256.0.0.1",
           "1.2.-3.4", "1..2.3", "1.2.3.4.", "", "a.b.c.d", "2600:1f14::1"]
    df = spark.createDataFrame([(ip,) for ip in bad] + [(None,)], "ip string")
    got = {r.ip: r.n for r in df.select("ip", ip_to_long("ip").alias("n")).collect()}
    assert got == {ip: None for ip in bad + [None]}


def test_ip_to_long_accepts_column_arguments(spark):
    import pytest

    df = spark.createDataFrame([("1.2.3.4/8", 167772161)], "p string, n long")
    row = df.select(
        ip_to_long("split(p, '/')[0]").alias("a"),
        ip_to_long(long_to_ip(ip_to_long("split(p, '/')[0]"))).alias("b"),
        is_private_ip_num(F.col("n")).alias("c"),
    ).first()
    assert row.a == row.b == py_ip_to_long("1.2.3.4")
    assert row.c is True  # 10.0.0.1
    # no faithful SQL rendering: pass the SQL text instead
    with pytest.raises(TypeError):
        ip_to_long(F.split("p", "/").getItem(0))


def test_is_private(spark):
    cases = {
        "10.1.2.3": True,
        "172.16.0.1": True,
        "172.32.0.1": False,
        "192.168.9.9": True,
        "127.0.0.1": True,
        "169.254.1.1": True,
        "8.8.8.8": False,
        "1.1.1.1": False,
    }
    df = spark.createDataFrame([(ip,) for ip in cases], "ip string")
    rows = df.select("ip", is_private_ip_num(ip_to_long("ip")).alias("p")).collect()
    for row in rows:
        assert row.p == cases[row.ip], row.ip


def test_format_readable_size(spark):
    cases = [
        (0, "0.00 B"),
        (512, "512.00 B"),
        (1024, "1.00 KiB"),
        (1536, "1.50 KiB"),
        (1048576, "1.00 MiB"),
        (5 * 1024**3, "5.00 GiB"),
        (3 * 1024**4, "3.00 TiB"),
    ]
    df = spark.createDataFrame([(n,) for n, _ in cases], "n long")
    got = {r.n: r.s for r in df.select("n", format_readable_size("n").alias("s")).collect()}
    for n, expect in cases:
        assert got[n] == expect, (n, got[n])


def test_canonical_flags_json(spark):
    df = spark.createDataFrame(
        [({"zeta": True, "alpha": False},), ({"alpha": False, "zeta": True},)],
        "flags map<string, boolean>",
    )
    vals = [r.j for r in df.select(canonical_flags_json("flags").alias("j")).collect()]
    assert vals[0] == vals[1]
    assert vals[0] == '{"alpha":false,"zeta":true}'


class TestLpm6:
    def test_nested_prefixes_and_misses(self, spark):
        import ipaddress

        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.lpm import (
            lpm_lookup6,
            prefixes6_from_cidrs,
        )

        dim = prefixes6_from_cidrs(
            spark,
            [
                ("2001:db8::/32", "aws", "ec2", "us-east-1"),
                ("2001:db8:aaaa::/48", "aws", "s3", "us-east-1"),
                ("fd00::/8", "private", "", ""),
                # top-bit-set hi: exercises the unsigned compare
                ("ff00::/8", "mcast", "", ""),
            ],
        )

        def pair(addr):
            v = int(ipaddress.ip_address(addr))
            hi, lo = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
            return (hi - 2**64 if hi >= 2**63 else hi,
                    lo - 2**64 if lo >= 2**63 else lo)

        cases = {
            "2001:db8:aaaa::1": "s3",        # longest (48) wins
            "2001:db8:bbbb::1": "ec2",       # only /32 contains
            "fd12::1": None,                 # fd00::/8 -> 'private' svc ''
            "ff02::1": None,                 # mcast
            "2607:f8b0::1": "MISS",
        }
        rows = [(a, *pair(a)) for a in cases]
        df = spark.createDataFrame(rows, "addr string, ip_hi long, ip_lo long")
        out = {r.addr: r for r in lpm_lookup6(df, dim).collect()}
        assert out["2001:db8:aaaa::1"].r_service == "s3"
        assert out["2001:db8:bbbb::1"].r_service == "ec2"
        assert out["fd12::1"].r_cloud == "private"
        assert out["ff02::1"].r_cloud == "mcast"     # unsigned hi compare
        assert out["2607:f8b0::1"].r_cloud is None   # miss -> nulls

    def test_every_row_survives_exactly_once(self, spark):
        from kubenetmon_spark.operators.lpm import (
            lpm_lookup6,
            prefixes6_from_cidrs,
        )

        dim = prefixes6_from_cidrs(spark, [("::/0", "any", "", "")])
        df = spark.createDataFrame(
            [(i, 0, i) for i in range(50)], "k long, ip_hi long, ip_lo long"
        )
        out = lpm_lookup6(df, dim)
        assert out.count() == 50
        assert out.filter(F.col("r_cloud") == "any").count() == 50


def test_ipv6_pair_to_string(spark):
    import ipaddress

    from kubenetmon_spark.functions.ip import ipv6_pair_to_string

    addrs = ["2001:db8:aaaa::1", "::1", "ff02::fb", "fe80::a:b:c:d"]

    def pair(a):
        v = int(ipaddress.ip_address(a))
        hi, lo = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
        return (hi - 2**64 if hi >= 2**63 else hi,
                lo - 2**64 if lo >= 2**63 else lo)

    df = spark.createDataFrame(
        [(a, *pair(a)) for a in addrs], "a string, hi long, lo long"
    )
    out = {r.a: r.s for r in df.select(
        "a", ipv6_pair_to_string(F.col("hi"), F.col("lo")).alias("s")
    ).collect()}
    for a in addrs:
        assert out[a] == ipaddress.ip_address(a).exploded


def test_is_private_ipv6_pair(spark):
    import ipaddress

    from kubenetmon_spark.functions.ip import is_private_ipv6_pair

    cases = {
        "fc00::1": True, "fdff:abcd::9": True,   # ULA fc00::/7
        "fe80::1": True, "febf::2": True,        # link-local /10
        "fec0::1": False,                        # just past fe80::/10
        "::1": True,                             # loopback
        "::2": False,
        "2001:db8::1": False, "ff02::1": False,
    }

    def pair(a):
        v = int(ipaddress.ip_address(a))
        hi, lo = (v >> 64) & (2**64 - 1), v & (2**64 - 1)
        return (hi - 2**64 if hi >= 2**63 else hi,
                lo - 2**64 if lo >= 2**63 else lo)

    df = spark.createDataFrame(
        [(a, *pair(a)) for a in cases], "a string, hi long, lo long"
    )
    got = {r.a: r.p for r in df.select(
        "a", is_private_ipv6_pair(F.col("hi"), F.col("lo")).alias("p")
    ).collect()}
    assert got == cases


class TestNormalizeQuery:
    def _norm(self, spark, s):
        from kubenetmon_spark.functions.normalize import normalize_query

        return (
            spark.createDataFrame([(s,)], "t string")
            .select(normalize_query(F.col("t")).alias("n"))
            .collect()[0]["n"]
        )

    def test_literals_and_lists(self, spark):
        got = self._norm(
            spark,
            "SELECT a FROM t WHERE x = 42 AND s = 'hi there' "
            "AND k IN (1, 2, 3) AND f = 3.14e-2",
        )
        assert got == (
            "SELECT a FROM t WHERE x = ? AND s = ? AND k IN (?..) "
            "AND f = ?"
        )

    def test_identifier_digits_preserved(self, spark):
        assert (
            self._norm(spark, "SELECT col3 FROM t2 WHERE v = 7")
            == "SELECT col3 FROM t2 WHERE v = ?"
        )

    def test_whitespace_collapse_and_trim(self, spark):
        assert self._norm(spark, "  a   =  5  ") == "a = ?"

    def test_hash_groups_match_skeleton_groups(self, spark):
        from kubenetmon_spark.functions.normalize import (
            normalize_query,
            normalized_query_hash,
        )

        df = spark.createDataFrame(
            [
                ("q1 = 5",), ("q1 = 77",),      # same skeleton
                ("q2 = 'x'",),                   # different skeleton
            ],
            "t string",
        )
        rows = df.select(
            normalize_query(F.col("t")).alias("n"),
            normalized_query_hash(F.col("t")).alias("h"),
        ).collect()
        by_n = {}
        for r in rows:
            by_n.setdefault(r.n, set()).add(r.h)
        assert all(len(v) == 1 for v in by_n.values())
        assert len({next(iter(v)) for v in by_n.values()}) == len(by_n)

    def test_sql_twin_matches(self, spark):
        import duckdb

        from kubenetmon_spark.functions.normalize import (
            sql_normalize_query,
        )

        samples = [
            "SELECT a FROM t WHERE x = 42 AND s = 'hi' AND k IN (1,2,3)",
            "  a   =  5  ",
            "col3 = 7e9 OR v = -3.5",
            "s = 'it''s' AND n = 1",
        ]
        for s in samples:
            duck = duckdb.execute(
                f"SELECT {sql_normalize_query('s')} FROM (SELECT ? AS s)",
                [s],
            ).fetchone()[0]
            assert duck == self._norm(spark, s)


def test_normalize_query_escaped_quote_and_vtab(spark):
    # review fixes: 'it''s' is ONE literal; \x0B whitespace collapses
    # identically in Spark (Java regex) and the DuckDB oracle (RE2)
    import duckdb

    from pyspark.sql import functions as F

    from kubenetmon_spark.functions.normalize import (
        normalize_query,
        sql_normalize_query,
    )

    rows = [
        ("SELECT 'it''s'",),
        ("a\x0bb  c",),
        ("IN (1, 2,  3)",),
    ]
    df = spark.createDataFrame(rows, "q string")
    got = [r[0] for r in df.select(normalize_query(F.col("q"))).collect()]
    assert got[0] == "SELECT ?"  # doubled quote = ONE literal, not two
    assert got[1] == "a b c"  # vertical tab collapsed
    oracle = [
        duckdb.sql(
            f"SELECT {sql_normalize_query('q')} FROM (SELECT ? AS q)",
            params=[q],
        ).fetchone()[0]
        for (q,) in rows
    ]
    assert oracle == got  # the two engines stay in lockstep
