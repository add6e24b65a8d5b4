"""URL canonicalization for web-corpus pipelines (reference:
CommonCrawl ingest in sift/corpora/commoncrawl.py — the reference
dedups WARC records by URL string equality; at 100 TB the same page is
fetched under trivially-different URLs, so canonicalize first).

Rules (the standard safe subset):
- lowercase scheme and host
- drop the fragment
- drop a default port (:80 for http, :443 for https)
- drop tracking params (utm_*, fbclid, gclid), sort the rest
- keep path case (paths are case-sensitive)

``canonical_url`` is pure built-in expressions (regexp + array HOFs —
JVM-side, codegen-friendly); ``canonical_url_sql`` emits the DuckDB
twin from the same rule set so the two engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_TRACKING = ("utm_%", "fbclid=%", "gclid=%")


def canonical_url(url: Column) -> Column:
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, _SCHEME_RE, 1))
    rest = F.regexp_replace(nofrag, _SCHEME_RE, "")
    auth = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    host = (
        F.when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .otherwise(auth)
    )
    pq = F.substring(rest, F.length(auth) + 1, F.lit(1 << 30))
    path = F.regexp_extract(pq, "^([^?]*)", 1)
    query = F.regexp_extract(pq, r"\?(.*)$", 1)
    # startswith, not LIKE: '_' is a LIKE wildcard and the SQL twin
    # escapes it — prefix match keeps the two engines aligned
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit(""))
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid=")
        & ~p.startswith("gclid="),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def trim_link_subsection(col: Column) -> Column:
    """Drop the #fragment (everything from the first '#') — reference
    parity: sift/util.py:44 ``trim_link_subsection``."""
    return F.regexp_replace(col, r"#.*$", "")


def trim_link_protocol(col: Column) -> Column:
    """Drop the scheme (everything through '://') — reference parity:
    sift/util.py:48 ``trim_link_protocol``."""
    return F.regexp_replace(col, r"^[^:/]+://", "")


def normalize_target(col: Column) -> Column:
    """Both trims, the combination every reference link model applies
    to targets (sift/models/links.py:20-24 and throughout)."""
    return trim_link_subsection(trim_link_protocol(col))


def canonical_url_sql(expr: str) -> str:
    """DuckDB SQL twin of ``canonical_url`` applied to ``expr``."""
    nofrag = f"regexp_replace({expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({nofrag}, '{_SCHEME_RE}', 1))"
    rest = f"regexp_replace({nofrag}, '{_SCHEME_RE}', '')"
    auth = f"lower(regexp_extract({rest}, '^([^/?]*)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({auth}, ':443$', '') "
        f"WHEN {scheme} = 'http' THEN regexp_replace({auth}, ':80$', '') "
        f"ELSE {auth} END"
    )
    pq = f"substr({rest}, length({auth}) + 1)"
    path = f"regexp_extract({pq}, '^([^?]*)', 1)"
    # DuckDB regexp_extract yields NULL on no match (Spark yields '')
    query = f"coalesce(regexp_extract({pq}, '\\?(.*)$', 1), '')"
    params = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND p NOT LIKE 'utm\\_%' ESCAPE '\\' "
        f"AND p NOT LIKE 'fbclid=%' AND p NOT LIKE 'gclid=%')"
    )
    # ...and array_to_string(list_sort([])) yields NULL, not ''
    qs = f"coalesce(array_to_string(list_sort({params}), '&'), '')"
    return (
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END)"
    )
