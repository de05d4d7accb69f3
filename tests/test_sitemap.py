"""Sitemap extraction tests (engine xmlMode path; the Spark roundtrip
is oracle-checked by q_sitemap in tests/test_entry_oracle.py)."""

from __future__ import annotations

import pytest

from datetime import datetime, timezone

from htmlparser2_spark.engine.sitemap import parse_sitemap


def test_urlset_fields_and_loc_required():
    xml = (
        '<?xml version="1.0"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc> https://h/a </loc><lastmod>2024-01-02</lastmod>"
        "<priority>0.8</priority></url>"
        "<url><loc>https://h/b</loc><changefreq>daily</changefreq></url>"
        "<url><lastmod>2024-05-05</lastmod></url>"  # no loc -> dropped
        "<url><loc>https://h/c</loc><priority>bogus</priority></url>"
        "</urlset>"
    )
    sm = parse_sitemap(xml)
    assert sm["kind"] == "urlset"
    assert [e["loc"] for e in sm["entries"]] == [
        "https://h/a", "https://h/b", "https://h/c",
    ]
    a, b, c = sm["entries"]
    assert a["lastmod"] == datetime(2024, 1, 2, tzinfo=timezone.utc)
    assert a["priority"] == 0.8
    assert b["changefreq"] == "daily" and b["lastmod"] is None
    assert c["priority"] is None  # non-numeric priority ignored


def test_sitemapindex():
    xml = (
        "<sitemapindex><sitemap><loc>https://h/s1.xml</loc>"
        "<lastmod>2024-02-03T04:05:06Z</lastmod></sitemap>"
        "<sitemap><loc>https://h/s2.xml</loc></sitemap></sitemapindex>"
    )
    sm = parse_sitemap(xml)
    assert sm["kind"] == "index"
    assert [e["loc"] for e in sm["entries"]] == [
        "https://h/s1.xml", "https://h/s2.xml",
    ]
    assert sm["entries"][0]["lastmod"] == datetime(
        2024, 2, 3, 4, 5, 6, tzinfo=timezone.utc
    )


def test_non_sitemap_documents():
    assert parse_sitemap("<html><body>page</body></html>") is None
    assert parse_sitemap("") is None
    assert parse_sitemap("<urlset></urlset>") == {
        "kind": "urlset", "entries": [],
    }


@pytest.mark.spark
def test_sitemap_udf_null_and_roundtrip(spark):
    """Non-sitemap documents yield a struct with NULL fields; a urlset
    roundtrips through the Arrow batch with typed lastmod/priority."""
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.udfs import sitemap_udf

    df = spark.createDataFrame(
        [
            ("s", "<urlset><url><loc>https://h/a</loc>"
                  "<lastmod>2024-01-02</lastmod>"
                  "<priority>0.8</priority></url></urlset>"),
            ("n", "<html><body>page</body></html>"),
        ],
        "id string, xml string",
    )
    out = {r["id"]: r["sm"] for r in
           df.select("id", sitemap_udf()(F.col("xml")).alias("sm")).collect()}
    assert out["n"]["kind"] is None and out["n"]["entries"] is None
    assert out["s"]["kind"] == "urlset"
    [e] = out["s"]["entries"]
    assert e["loc"] == "https://h/a" and e["priority"] == 0.8
    assert e["lastmod"].year == 2024 and e["lastmod"].day == 2
