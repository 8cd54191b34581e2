"""Canonical-URL normalization: pure Catalyst column expressions.

Webtext pipelines dedupe by canonicalized URL before any content pass —
the same page arrives from a crawl frontier as ``http://WWW.Site.org/p/1/
?utm_source=feed#top`` and ``https://site.org/p/1`` — and a raw-string
key misses all of it. The reference has no URL handling (its corpus is
pre-keyed); the driver's ``url_dedup_groups`` query groups pages by
this key.

Everything is ``regexp_replace`` chains deliberately restricted to RE2-
compatible syntax (capture groups + alternation, no lookarounds), so the
DuckDB oracle reproduces each step with the identical pattern and the
``'g'`` flag. Normalization steps, in order:

1. strip the fragment (``#...``);
2. lowercase the scheme+host prefix (path/query stay case-sensitive);
3. drop default ports (``http://h:80`` / ``https://h:443``);
4. strip a leading ``www.``;
5. remove tracking query params (``utm_*``, ``gclid``, ``fbclid``,
   ``ref``) wherever they sit in the query string;
6. drop a now-empty ``?`` and any trailing ``/``.

Scheme is NOT folded (http vs https stay distinct): merging them is a
site policy, not a syntactic identity — callers who want it can
``regexp_replace('^http://', 'https://')`` explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAMS = ("utm_[^=&]*", "gclid", "fbclid", "ref")

# (pattern, replacement) chain — Java-regex and RE2 compatible; the
# DuckDB twin in __spark_entry__ mirrors this list verbatim (only the
# group-reference syntax differs: $1 there \1).
_STEPS: list[tuple[str, str]] = [
    (r"#.*$", ""),                                        # 1. fragment
    # 3. default ports (run after the prefix lowercasing step below)
    (r"^(http://[^/:?#]*):80([/?#]|$)", "$1$2"),
    (r"^(https://[^/:?#]*):443([/?#]|$)", "$1$2"),
    (r"^(https?://)www\.", "$1"),                         # 4. www
]
_PARAMS_ALT = "|".join(TRACKING_PARAMS)
_TRACKING_STEPS: list[tuple[str, str]] = [
    (rf"&({_PARAMS_ALT})=[^&#]*", ""),                    # 5. &utm_x=...
    (rf"\?({_PARAMS_ALT})=[^&#]*&", "?"),                 #    ?utm_x=...&rest
    (rf"\?({_PARAMS_ALT})=[^&#]*$", ""),                  #    ?utm_x=... (only)
]
_TAIL_STEPS: list[tuple[str, str]] = [
    (r"\?$", ""),                                         # 6. empty query
    (r"/+$", ""),                                         #    trailing slash
]

_PREFIX_PAT = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def canonical_url(col) -> Column:
    """Canonicalized form of a URL column (NULL stays NULL)."""
    u = F.col(col) if isinstance(col, str) else col
    # 1. fragment first, so host extraction never sees one
    u = F.regexp_replace(u, _STEPS[0][0], _STEPS[0][1])
    # 2. lowercase scheme+host: lower(prefix) + untouched remainder
    prefix = F.regexp_extract(u, _PREFIX_PAT, 1)
    u = F.when(
        prefix == "", u  # no scheme -> leave the string alone
    ).otherwise(
        F.concat(F.lower(prefix), F.substring(u, F.length(prefix) + F.lit(1), F.lit(2_000_000)))
    )
    for pat, repl in _STEPS[1:] + _TRACKING_STEPS + _TAIL_STEPS:
        u = F.regexp_replace(u, pat, repl)
    return u


def canonical_url_sql(expr: str) -> str:
    """The DuckDB twin: same steps, same patterns, 'g' flag (DuckDB's
    regexp_replace is first-match-only by default; Spark replaces all)."""
    # fragment
    out = f"regexp_replace({expr}, '#.*$', '', 'g')"
    # lowercase prefix
    pat = _PREFIX_PAT.replace("'", "''")
    out = (
        f"CASE WHEN regexp_extract({out}, '{pat}', 1) = '' THEN {out} "
        f"ELSE lower(regexp_extract({out}, '{pat}', 1)) || "
        f"substring({out}, length(regexp_extract({out}, '{pat}', 1)) + 1) END"
    )
    for pat, repl in _STEPS[1:] + _TRACKING_STEPS + _TAIL_STEPS:
        duck_repl = repl.replace("$", "\\")
        # DuckDB standard strings don't process backslash escapes — the
        # pattern goes in verbatim, only quotes need doubling
        duck_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{duck_pat}', '{duck_repl}', 'g')"
    return out
