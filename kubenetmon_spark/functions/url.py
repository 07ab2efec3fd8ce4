"""URL decomposition helpers — the ClickHouse URL-function family
(``domain``, ``topLevelDomain``, ``path``, ``queryString``,
``protocol``, ``cutQueryString``, ``extractURLParameter``) as pure
built-in expressions.

The reference's engine class (ClickHouse) ships these as first-class
scalar functions; a web-scale training-data pipeline needs them for
per-domain quotas, source filtering, and URL canonicalization. All are
``parse_url``/``regexp_extract`` compositions — JVM-side, codegen'd,
no UDFs — so they vectorize inside the scan projection at any scale.

Semantics follow ClickHouse: a URL without a scheme still yields its
host for ``domain`` (CH tolerates scheme-less input), missing parts
return empty string (never null) so group-bys don't need coalesce.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def protocol(url: Column | str) -> Column:
    """Scheme without '://' — '' if absent (ClickHouse ``protocol``)."""
    return F.regexp_extract(_c(url), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)


def domain(url: Column | str) -> Column:
    """Host part; tolerates scheme-less URLs, strips port and
    userinfo (ClickHouse ``domain``)."""
    u = _c(url)
    # strip scheme if present, then take up to the first /, ?, #, :
    host = F.regexp_extract(
        u, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)", 1
    )
    return host


def top_level_domain(url: Column | str) -> Column:
    """Last dot-separated host label — '' when the host has no dot
    (ClickHouse ``topLevelDomain``)."""
    return F.regexp_extract(domain(_c(url)), r"\.([^.]+)$", 1)


def url_path(url: Column | str) -> Column:
    """Path with leading '/', no query/fragment — '' if absent
    (ClickHouse ``path``)."""
    u = _c(url)
    return F.regexp_extract(
        u, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*(/[^?#]*)", 1
    )


def query_string(url: Column | str) -> Column:
    """Query without '?' and without fragment — '' if absent
    (ClickHouse ``queryString``)."""
    return F.regexp_extract(_c(url), r"\?([^#]*)", 1)


def cut_query_string(url: Column | str) -> Column:
    """URL with '?...' and '#...' removed (ClickHouse
    ``cutQueryStringAndFragment``)."""
    return F.regexp_extract(_c(url), r"^([^?#]*)", 1)


def url_param(url: Column | str, name: str) -> Column:
    """Value of one query parameter — '' if absent (ClickHouse
    ``extractURLParameter``). ``name`` is escaped, so a parameter
    named 'a.b' matches literally instead of 'a' + any-char + 'b'
    (the gopher-stopword regex-escape lesson)."""
    import re

    return F.regexp_extract(
        _c(url), r"[?&]" + re.escape(name) + r"=([^&#]*)", 1
    )
