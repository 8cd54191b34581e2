"""Canonical-URL normalization (functions/urls.py): Spark and the
generated DuckDB twin must agree byte-for-byte on every normalization
rule."""

import duckdb

from cs588_data_science_bug_duplicate_detector_spark.functions.urls import (
    canonical_url,
    canonical_url_sql,
)

CASES = [
    # (input, expected canonical)
    ("https://WWW.ExampleSite.org/p/123", "https://examplesite.org/p/123"),
    ("https://examplesite.org/p/123/?utm_source=feed", "https://examplesite.org/p/123"),
    ("https://examplesite.org:443/p/123#section-2", "https://examplesite.org/p/123"),
    ("http://site.org:80/a", "http://site.org/a"),
    ("http://site.org:8080/a", "http://site.org:8080/a"),  # non-default kept
    ("https://examplesite.org/p/123/", "https://examplesite.org/p/123"),
    ("http://site.org/a?x=1&utm_campaign=c&y=2", "http://site.org/a?x=1&y=2"),
    ("http://site.org/a?utm_a=1&utm_b=2&z=3", "http://site.org/a?z=3"),
    ("https://site.org/a?ref=hn", "https://site.org/a"),
    ("https://site.org/a?refx=keepme", "https://site.org/a?refx=keepme"),
    ("https://site.org/A/Path?Q=Mixed", "https://site.org/A/Path?Q=Mixed"),  # path/query case kept
    ("HTTPS://SITE.ORG/x", "https://site.org/x"),
    ("https://site.org/a#frag?not=query", "https://site.org/a"),
    ("http://www.site.org:80/b/?utm_x=1#f", "http://site.org/b"),
    ("not a url at all", "not a url at all"),
    ("", ""),
    (None, None),
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame([(c,) for c, _ in CASES], "url string")
    got = [r[0] for r in df.select(canonical_url("url")).collect()]
    assert got == [e for _, e in CASES]


def test_duckdb_twin_matches_spark(spark):
    """Java regex (Spark) vs RE2 (DuckDB) over every rule."""
    inputs = [c for c, _ in CASES]
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {canonical_url_sql('url')} FROM (SELECT unnest(?) AS url)",
            [inputs],
        ).fetchall()
    ]
    assert duck == [e for _, e in CASES]
