"""HTML→text extraction and link extraction (pipeline/web.py) — the
chain is pinned three ways: an independent Python `re` replay of the
same module constants (a third regex engine agreeing with Spark and
the DuckDB oracle), hand-asserted properties on a crafted document,
and NULL/edge behavior."""

import re

import pytest

from lotad_spark.pipeline.web import (
    HTML_SPACE_STEPS,
    HTML_TEXT_STEPS,
    decode_entities,
    extract_links,
    html_to_text,
)

CRAFTED = (
    '<html><head><title>T</title><style>p { color: red; }</style>'
    '<script type="text/javascript">var a = "</div>"; if (1<2) {}'
    "</script></head>"
    "<body><h1>Head</h1><p>one &amp;amp; two&nbsp;&lt;tag&gt;</p>"
    '<!-- secret --><a href="https://x.com/a?b=1&amp;c=2">link text</a>'
    "<a href='/rel/path'>rel</a>"
    "<ul><li>i1</li><li>i2</li></ul></body></html>"
)


def _py_replay(html: str) -> str:
    """Independent executor of the published chain (Python re)."""
    out = html
    for pat, rep in HTML_TEXT_STEPS:
        out = re.sub(pat, rep, out)
    out = decode_entities(out)
    for pat, rep in HTML_SPACE_STEPS:
        out = re.sub(pat, rep, out)
    return out


class TestHtmlToText:
    def test_crafted_document_properties(self, spark):
        df = spark.createDataFrame(
            [(1, CRAFTED), (2, None), (3, "plain, no tags")],
            "doc_id bigint, html string",
        )
        got = {r.doc_id: r.text for r in html_to_text(df).collect()}
        t = got[1]
        # invisible containers vanish WITH content — including the
        # '</div>' and '<' inside the script a naive stripper leaks
        assert "color" not in t and "var a" not in t
        assert "secret" not in t
        # entities decode single-pass: &amp;amp; is the LITERAL &amp;
        assert "one &amp; two <tag>" in t
        # block boundaries are newlines; inline anchors are not
        assert "Head" in t.split("\n")
        assert "i1" in t.split("\n") and "i2" in t.split("\n")
        assert "link text" in t and "rel" in t
        # title text is kept (title is not a block tag; documented)
        assert "T" in t.split("\n")[0]
        # NULL stays NULL (auditable), plain text passes through
        assert got[2] is None
        assert got[3] == "plain, no tags"

    def test_entity_decode(self, spark):
        """Numeric (decimal/hex), named, invalid-codepoint, and
        single-pass cases — Spark's arithmetic UTF-8 construction vs
        the Python reference (the oracle adds DuckDB chr() as the
        independent third implementation)."""
        import pyspark.sql.functions as F

        from lotad_spark.pipeline.web import decode_entities_expr

        cases = [
            "plain, no entities",
            "caf&eacute; r&#233;sum&#xE9;",  # named + dec + hex agree
            "&mdash;&#8212; &rsquo;&#x2019; &hellip;&euro;",
            # single-pass: &amp;#39; yields the LITERAL &#39;
            "&amp;#39; and &amp;lt; stay encoded",
            # invalid codepoints → U+FFFD (0, surrogate, > U+10FFFF)
            "&#0; &#xD800; &#1114112;",
            "&#1114111; max valid",  # U+10FFFF boundary
            "&#12345678; 8 digits stays literal",
            "&unknown; and bare & survive",
            "ends with entity&hellip;",
            "&lt;starts with entity",
            "&#65;&#x42;C adjacent entities",
        ]
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "i int, t string"
        )
        got = {
            r.i: r.d
            for r in df.select(
                "i", decode_entities_expr(F.col("t")).alias("d")
            ).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == decode_entities(c), c
        # spot-check absolute values, not just engine agreement
        assert got[1] == "café résumé"
        assert got[3] == "&#39; and &lt; stay encoded"
        assert got[4] == "� � �"
        assert got[10] == "ABC adjacent entities"

    def test_spark_matches_independent_python_replay(self, spark):
        cases = [
            (1, CRAFTED),
            (2, "a < b & c > d"),  # bare specials survive untouched
            (3, "<p>x</p><p></p><p>y</p>"),  # empty blocks collapse
            (4, "  lead <b>bold</b> trail  "),
            (5, "<SCRIPT>UPPER()</SCRIPT>ok<BR>line"),  # case-folding
            (6, "<div attr=\"k>v\">odd</div> tail"),  # documented limit
            (7, "nbsp folds &#160; with&nbsp;spaces"),
            (8, "num &#233; hex &#xE9; named &eacute; dash &#8212;"),
        ]
        df = spark.createDataFrame(cases, "doc_id bigint, html string")
        got = {r.doc_id: r.text for r in html_to_text(df).collect()}
        for doc_id, html in cases:
            assert got[doc_id] == _py_replay(html), doc_id

    def test_extract_links(self, spark):
        df = spark.createDataFrame(
            [
                (1, CRAFTED),
                (2, "no links here"),
                (3, None),
                # unquoted href, src, and the apostrophe-in-a-double-
                # quoted-URL case the mixed-quote class used to truncate
                (4, "<a href=/next>n</a><img src=\"/img/it's.png\">"),
            ],
            "doc_id bigint, html string",
        )
        rows = extract_links(df).collect()
        got = sorted((r.doc_id, r.link) for r in rows)
        assert got == [
            (1, "/rel/path"),
            (1, "https://x.com/a?b=1&amp;c=2"),  # raw href, pre-decode
            (4, "/img/it's.png"),
            (4, "/next"),
        ]
        # links feed the URL ladder
        from lotad_spark.pipeline.urls import canonicalize_urls

        canon = canonicalize_urls(
            extract_links(df), "link"
        ).collect()
        assert any(
            c.canonical_url and "x.com" in c.canonical_url for c in canon
        )


class TestWebExtractCli:
    def test_warc_mode_with_links(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli
        from lotad_spark.sources.warc import write_warc_file

        import os

        d = str(tmp_path / "crawl")
        os.makedirs(d)
        write_warc_file(
            [
                (
                    "https://x.com/a",
                    "text/html",
                    b'<p>hello</p><a href="/next">n</a>',
                )
            ],
            os.path.join(d, "c.warc.gz"),
            gzip_members=True,
        )
        out = str(tmp_path / "out")
        r = CliRunner().invoke(
            cli,
            ["web-extract", "--warc", d, "--output", out, "--links"],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        text_rows = spark.read.parquet(f"{out}/text").collect()
        assert [(t.doc_id, t.text) for t in text_rows] == [
            ("https://x.com/a", "hello\nn")
        ]
        link_rows = spark.read.parquet(f"{out}/links").collect()
        assert [(l.doc_id, l.link) for l in link_rows] == [
            ("https://x.com/a", "/next")
        ]

    def test_mode_validation(self):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        r = CliRunner().invoke(cli, ["web-extract", "--output", "/tmp/x"])
        assert r.exit_code != 0 and "exactly one" in r.output


class TestRobots:
    TXT = """
# crawl policy
User-agent: googlebot
Disallow: /private

User-agent: *
User-agent: other
Disallow: /d/1
Allow: /d/12
Disallow: /d/123
Disallow:

User-agent: x
Disallow: /only-x
"""

    def test_parse_group_semantics(self):
        from lotad_spark.pipeline.web import parse_robots

        # only the star group's rules; the empty Disallow adds nothing
        assert parse_robots(self.TXT) == [
            ("disallow", "/d/1"),
            ("allow", "/d/12"),
            ("disallow", "/d/123"),
        ]
        assert parse_robots("") == []
        assert parse_robots("User-agent: *\nDisallow:\n") == []
        # star named in a multi-agent group
        assert parse_robots(
            "User-agent: a\nUser-agent: *\nDisallow: /x\n"
        ) == [("disallow", "/x")]

    def test_longest_match_with_allow_tiebreak(self, spark):
        from lotad_spark.pipeline.web import robots_filter

        rules = spark.createDataFrame(
            [
                ("a.com", "disallow", "/d/1"),
                ("a.com", "allow", "/d/12"),
                ("a.com", "disallow", "/d/123"),
                ("b.com", "disallow", "/"),
                ("b.com", "allow", "/d/2"),
                # exact tie: allow wins
                ("t.com", "disallow", "/p"),
                ("t.com", "allow", "/p"),
            ],
            "domain string, rule_type string, path_prefix string",
        )
        urls = spark.createDataFrame(
            [
                (1, "https://a.com/d/1x"),
                (2, "https://a.com/d/12y"),
                (3, "https://a.com/d/123z"),
                (4, "https://a.com/other"),
                (5, "https://b.com/anything"),
                (6, "https://c.com/free"),  # no rules: allowed
                (7, "https://b.com/d/2/page"),
                (8, "https://t.com/page"),  # tie -> allow
                (9, None),  # unparseable: allowed (flag upstream)
            ],
            "id bigint, url string",
        )
        got = {
            r.id: r.robots_allowed
            for r in robots_filter(urls, rules).collect()
        }
        assert got == {
            1: False, 2: True, 3: False, 4: True, 5: False,
            6: True, 7: True, 8: True, 9: True,
        }

    def test_bom_and_domain_normalization(self, spark):
        from lotad_spark.pipeline.web import parse_robots, robots_filter

        # UTF-8 BOM must not eat the first group
        assert parse_robots(
            "\ufeffUser-agent: *\nDisallow: /x\n"
        ) == [("disallow", "/x")]
        # rules keyed by www./upper/port forms must still gate URLs
        # whose host canonicalizes (fail-open hazard)
        rules = spark.createDataFrame(
            [
                ("www.a.com", "disallow", "/d"),
                ("B.COM:8080", "disallow", "/"),
            ],
            "domain string, rule_type string, path_prefix string",
        )
        urls = spark.createDataFrame(
            [(1, "https://a.com/d/1"), (2, "http://www.b.com/page")],
            "id bigint, url string",
        )
        got = {
            r.id: r.robots_allowed
            for r in robots_filter(urls, rules).collect()
        }
        assert got == {1: False, 2: False}

    def test_rule_to_regex_third_engine(self):
        """The Python reference translation, replayed against Python
        ``re`` (the third engine alongside Spark's Java regex and the
        oracle's RE2) on the RFC 9309 examples."""
        import re

        from lotad_spark.pipeline.web import rule_to_regex

        cases = [
            # (pattern, path, matches) — RFC 9309 §2.2.3 shapes
            ("/", "/anything", True),
            ("/*?", "/page?sid=1", True),
            ("/*?", "/page", False),
            ("/*.pdf$", "/docs/a.pdf", True),
            ("/*.pdf$", "/docs/a.pdf?dl=1", False),
            ("/fish*", "/fishheads/yummy.html", True),
            ("/fish*", "/Fish.asp", False),
            ("/*.php$", "/filename.php", True),
            ("/*.php$", "/filename.php5", False),
            ("/d/6$", "/d/6", True),
            ("/d/6$", "/d/60", False),
            # $ mid-pattern is a literal octet
            ("/a$b", "/a$b/c", True),
            ("/a$b", "/ab", False),
            # regex metachars in paths are literal
            ("/a.b", "/a.b", True),
            ("/a.b", "/aXb", False),
            ("/p(1)", "/p(1)/x", True),
            ("/p+q", "/p+q", True),
        ]
        for pat, path, want in cases:
            rx = rule_to_regex(pat)
            got = re.search(rx, path) is not None
            assert got is want, (pat, rx, path)

    def test_rule_regex_expr_matches_python(self, spark):
        """The JVM translation chain must produce the EXACT regex
        string the Python reference produces — this is what lets the
        oracle inline rule_to_regex literals while Spark translates
        independently."""
        import pyspark.sql.functions as F

        from lotad_spark.pipeline.web import (
            rule_regex_expr,
            rule_to_regex,
        )

        pats = [
            "/d/1", "/*4$", "/d/*8", "/d/6$", "/", "/a.b",
            "/x(y)|z", "/p+q?", "/$", "$", "*$", "/a$b$",
            "/br[ck]", "/back\\slash", "/*?", "/*.pdf$", "/a^b",
            "/{}", "/**", "/fish*", "/*.php$",
        ]
        df = spark.createDataFrame(
            [(p,) for p in pats], "p string"
        ).select("p", rule_regex_expr(F.col("p")).alias("rx"))
        for r in df.collect():
            assert r.rx == rule_to_regex(r.p), r.p

    def test_rfc9309_wildcards(self, spark):
        """Full matcher semantics: * any-sequence, trailing-$ anchor,
        most-octets precedence ACROSS wildcard and prefix rules, tie →
        allow; the r14 prefix-only matcher failed OPEN on every
        disallow here."""
        from lotad_spark.pipeline.web import robots_filter

        rules = spark.createDataFrame(
            [
                ("a.com", "disallow", "/*4$"),
                ("a.com", "allow", "/d/*8"),
                ("a.com", "disallow", "/d/6"),
                ("a.com", "allow", "/d/6$"),
                ("a.com", "disallow", "/d/1"),
                ("a.com", "allow", "/d/12"),
                ("q.com", "disallow", "/*?"),
                ("q.com", "disallow", "/*.pdf$"),
            ],
            "domain string, rule_type string, path_prefix string",
        )
        urls = spark.createDataFrame(
            [
                (1, "https://a.com/d/4"),  # /*4$ → blocked
                (2, "https://a.com/d/48"),  # allow /d/*8 (6) wins
                # allow /d/12 (5 octets) beats disallow /*4$ (4)
                (3, "https://a.com/d/124"),
                (4, "https://a.com/d/6"),  # allow /d/6$ (5) > dis /d/6 (4)
                (5, "https://a.com/d/62"),  # dis /d/6
                # both matches disallow (/*4$ 4, /d/6 4) → blocked
                (6, "https://a.com/d/64"),
                (7, "https://a.com/d/28/x"),  # /d/*8 matches mid-path
                (8, "https://q.com/page?sid=1"),  # /*? → blocked
                (9, "https://q.com/page"),  # no ? → allowed
                (10, "https://q.com/f/a.pdf"),  # /*.pdf$ → blocked
                (11, "https://q.com/f/a.pdfx"),  # anchor → allowed
            ],
            "id bigint, url string",
        )
        got = {
            r.id: r.robots_allowed
            for r in robots_filter(urls, rules).collect()
        }
        assert got == {
            1: False, 2: True, 3: True, 4: True, 5: False, 6: False,
            7: True, 8: False, 9: True, 10: False, 11: True,
        }

    def test_staging_collision_raises(self, spark):
        import pytest as _pytest

        from lotad_spark.pipeline.web import robots_filter

        rules = spark.createDataFrame(
            [("a.com", "disallow", "/")],
            "domain string, rule_type string, path_prefix string",
        )
        bad = spark.createDataFrame(
            [(1, "https://a.com/", "x")],
            "id bigint, url string, _r_host string",
        )
        with _pytest.raises(ValueError, match="staging"):
            robots_filter(bad, rules)

    def test_no_corpus_exchange(self, spark, sf_dir):
        """The decision folds inside the projection after a broadcast
        join — the URL relation must not shuffle."""
        import pyspark.sql.functions as F

        from lotad_spark.pipeline.web import robots_filter
        from lotad_spark.sources.parquet import ParquetDatabase

        d = ParquetDatabase(spark, sf_dir, "db").table("documents")
        urls = d.select(
            "doc_id",
            F.concat(
                F.lit("https://a.com/d/"), F.col("doc_id").cast("string")
            ).alias("url"),
        )
        rules = spark.createDataFrame(
            [("a.com", "disallow", "/d/1")],
            "domain string, rule_type string, path_prefix string",
        )
        plan = robots_filter(urls, rules)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the only exchanges are on the tiny rules side (broadcast +
        # its pre-aggregation) — never a hashpartitioning of the urls
        hash_exchanges = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
        ]
        # exactly the rules-side aggregation exchange — a second one
        # would mean the corpus started shuffling
        assert len(hash_exchanges) <= 1, plan
        for line in hash_exchanges:
            # the normalized-domain groupBy key surfaces as a
            # _groupingexpression; all three names are rules-side
            assert (
                "domain" in line
                or "_r_host" in line
                or "_groupingexpression" in line
            ), line


class TestSitemaps:
    XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> https://a.com/p?x=1&amp;y=2 </loc>
    <lastmod>2026-03-04</lastmod>
  </url>
  <url><loc>https://a.com/plain</loc></url>
  <url><lastmod>2026-01-01</lastmod></url>
</urlset>"""
    INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://a.com/sm/1.xml</loc>
  <lastmod>2026-02-02</lastmod></sitemap>
  <sitemap><loc>https://a.com/sm/2.xml</loc></sitemap>
</sitemapindex>"""

    def _run(self, spark, xml):
        from lotad_spark.pipeline.web import sitemap_urls

        df = spark.createDataFrame([(1, xml)], "doc_id bigint, xml string")
        return [
            (r.kind, r.url, r.lastmod)
            for r in sitemap_urls(df).orderBy("url").collect()
        ]

    def test_urlset_entities_whitespace_missing_loc(self, spark):
        got = self._run(spark, self.XML)
        # the loc-less entry drops; entities decode; whitespace trims
        assert got == [
            ("url", "https://a.com/p?x=1&y=2", "2026-03-04"),
            ("url", "https://a.com/plain", None),
        ]

    def test_sitemapindex_children(self, spark):
        got = self._run(spark, self.INDEX)
        assert got == [
            ("sitemap", "https://a.com/sm/1.xml", "2026-02-02"),
            ("sitemap", "https://a.com/sm/2.xml", None),
        ]

    def test_namespace_prefixed_extracts_nothing(self, spark):
        xml = (
            '<sm:urlset xmlns:sm="x"><sm:url><sm:loc>https://a.com/'
            "</sm:loc></sm:url></sm:urlset>"
        )
        assert self._run(spark, xml) == []

    def test_non_sitemap_document(self, spark):
        assert self._run(spark, "<html><body>hi</body></html>") == []

    def test_plan_single_projection(self, spark):
        from lotad_spark.pipeline.web import sitemap_urls

        df = spark.createDataFrame([(1, self.XML)], "doc_id bigint, xml string")
        plan = (
            sitemap_urls(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
        assert "Join" not in plan


class TestTemplateFingerprint:
    def _fps(self, spark, pages):
        from lotad_spark.pipeline.web import template_fingerprint

        df = spark.createDataFrame(
            list(enumerate(pages)), "doc_id bigint, html string"
        )
        return {
            r.doc_id: (r.template_fp, r.n_tags, r.n_distinct_tags)
            for r in template_fingerprint(df).collect()
        }

    def test_same_template_different_text_collapses(self, spark):
        a = "<html><body><div class='x'><p>alpha words</p></div></body></html>"
        b = '<html><body><div id="y"><p>совсем другой текст</p></div></body></html>'
        c = "<html><body><div><div><p>extra level</p></div></div></body></html>"
        got = self._fps(spark, [a, b, c])
        assert got[0][0] == got[1][0]  # attributes/text don't matter
        assert got[0][0] != got[2][0]  # structure does
        assert got[0][1] == 8 and got[0][2] == 8  # 4 open + 4 close

    def test_case_insensitive_and_closing_tags(self, spark):
        got = self._fps(spark, ["<DIV><P>x</P></DIV>", "<div><p>x</p></div>"])
        assert got[0] == got[1]

    def test_no_markup_hashes_empty_sequence(self, spark):
        import hashlib

        got = self._fps(spark, ["just plain text"])
        assert got[0] == (hashlib.md5(b"").hexdigest(), 0, 0)

    def test_plan_single_projection(self, spark):
        from lotad_spark.pipeline.web import template_fingerprint

        df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id bigint, html string")
        plan = (
            template_fingerprint(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestMainContent:
    PAGE = (
        "<html><head><title>t</title>"
        "<script>var boilerplate = 'not text';</script></head><body>"
        "<div><a href='/'>Home</a> | <a href='/a'>About</a> | "
        "<a href='/c'>Contact</a></div>"
        "<div>This is the real article prose, long enough to keep and "
        "with no links at all inside it.</div>"
        "<div>Second paragraph of genuine content &amp; it also clears "
        "the length bar comfortably.</div>"
        "<div>Footer: <a href='/tos'>Terms of service and privacy "
        "information page link text here</a></div>"
        "</body></html>"
    )

    def _run(self, spark, html, **kw):
        from lotad_spark.pipeline.web import main_content

        df = spark.createDataFrame([(1, html)], "doc_id bigint, html string")
        return main_content(df, **kw).collect()[0]

    def test_boilerplate_drops_prose_survives(self, spark):
        r = self._run(spark, self.PAGE)
        assert r.main_text == (
            "This is the real article prose, long enough to keep and "
            "with no links at all inside it.\n"
            "Second paragraph of genuine content & it also clears "
            "the length bar comfortably."
        )
        # nav (3 links, link-dense), title, and footer (one long link)
        # all dropped; script text never appears
        assert "Home" not in r.main_text
        assert "boilerplate" not in r.main_text
        assert "Terms" not in r.main_text
        assert r.n_kept == 2 and r.n_blocks >= 4

    def test_link_density_boundary(self, spark):
        # exactly 50% link chars: kept (<=); just over: dropped
        half = "<p>" + "<a href='/x'>" + "l" * 25 + "</a>" + "m" * 25 + "</p>"
        over = "<p>" + "<a href='/x'>" + "l" * 26 + "</a>" + "m" * 24 + "</p>"
        assert self._run(spark, half).n_kept == 1
        assert self._run(spark, over).n_kept == 0

    def test_min_chars_parameter(self, spark):
        short = "<p>only nineteen chars</p>"
        assert self._run(spark, short).n_kept == 0
        assert self._run(spark, short, min_chars=10).n_kept == 1

    def test_null_html_stays_null(self, spark):
        from lotad_spark.pipeline.web import main_content

        df = spark.createDataFrame(
            [(1, None)], "doc_id bigint, html string"
        )
        r = main_content(df).collect()[0]
        assert r.main_text is None and r.n_kept is None

    def test_plan_single_projection(self, spark):
        from lotad_spark.pipeline.web import main_content

        df = spark.createDataFrame([(1, self.PAGE)], "doc_id bigint, html string")
        plan = (
            main_content(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestHtmlMetaAndAnchors:
    """html_meta / html_anchors (r16): head metadata with NULL-absent
    semantics and (href, anchor_text) pairs across quoting styles."""

    PAGE = (
        '<html lang="pt-BR"><head><meta charset="ISO-8859-1">'
        "<title>A Página</title>"
        "<meta name='description' content='single quoted desc'>"
        '</head><body>'
        '<a href="https://x.com/a">first <b>bold</b></a>'
        "<a href='/rel'>second</a>"
        "<a name='no-href'>not a link</a></body></html>"
    )

    def test_meta_extraction(self, spark):
        from lotad_spark.pipeline.web import html_meta

        df = spark.createDataFrame(
            [(1, self.PAGE), (2, "<html><body>bare</body></html>"),
             (3, None)],
            "doc_id bigint, html string",
        )
        got = {r.doc_id: r for r in html_meta(df).collect()}
        assert got[1].title == "A Página"
        assert got[1].lang == "pt-BR"
        assert got[1].charset == "ISO-8859-1"
        assert got[1].description == "single quoted desc"
        # absent fields are NULL, not ''
        assert got[2].title is None and got[2].lang is None
        assert got[2].charset is None and got[2].description is None
        assert got[2].canonical is None
        assert got[3].title is None

    def test_canonical_forms(self, spark):
        from lotad_spark.pipeline.web import html_meta

        wrap = "<html><head>%s</head><body>x</body></html>"
        df = spark.createDataFrame(
            [
                (1, wrap % '<link rel="canonical" '
                           'href="https://c.com/1">'),
                (2, wrap % "<link rel='canonical' "
                           "href='https://c.com/2'>"),
                # href before rel (real pages emit both orders)
                (3, wrap % '<link href="https://c.com/3" '
                           'rel="canonical">'),
                (4, wrap % "<link href='https://c.com/4' "
                           "rel=canonical>"),
                # a non-canonical link must not match
                (5, wrap % '<link rel="stylesheet" href="/s.css">'),
                # r18 (ADVICE): rel values that merely START with
                # 'canonical' are NOT canonical links, in either
                # attribute order
                (6, wrap % '<link rel="canonical-amp" '
                           'href="https://c.com/6">'),
                (7, wrap % '<link href="https://c.com/7" '
                           'rel="canonical-amp">'),
                # ...but a rel token LIST containing canonical is
                (8, wrap % '<link rel="canonical alternate" '
                           'href="https://c.com/8">'),
            ],
            "doc_id bigint, html string",
        )
        got = {r.doc_id: r.canonical for r in html_meta(df).collect()}
        assert got == {
            1: "https://c.com/1", 2: "https://c.com/2",
            3: "https://c.com/3", 4: "https://c.com/4", 5: None,
            6: None, 7: None, 8: "https://c.com/8",
        }

    def test_anchor_pairs(self, spark):
        from lotad_spark.pipeline.web import html_anchors

        df = spark.createDataFrame(
            [(1, self.PAGE)], "doc_id bigint, html string"
        )
        rows = html_anchors(df).collect()
        pairs = {(r.href, r.anchor_text) for r in rows}
        # dq and sq links extract with their inner markup raw; the
        # href-less <a name=...> is not an edge
        assert pairs == {
            ("https://x.com/a", "first <b>bold</b>"),
            ("/rel", "second"),
        }

    def test_plans_fused_into_scan(self, spark):
        from lotad_spark.pipeline.web import html_anchors, html_meta

        df = spark.createDataFrame(
            [(1, self.PAGE)], "doc_id bigint, html string"
        )
        for op in (html_meta, html_anchors):
            plan = (
                op(df)._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange" not in plan, op.__name__
            assert "EvalPython" not in plan, op.__name__
            assert "Join" not in plan, op.__name__

    def test_python_replay_agrees(self):
        import re as _re

        from lotad_spark.pipeline.web import (
            HTML_ANCHOR_PATTERNS,
            HTML_META_PATTERNS,
        )

        pats = dict(HTML_META_PATTERNS)
        m = _re.search(pats["title"], self.PAGE)
        assert m and m.group(1) == "A Página"
        m = _re.search(pats["lang"], self.PAGE)
        assert m and m.group(1) == "pt-BR"
        m = _re.search(pats["description_sq"], self.PAGE)
        assert m and m.group(1) == "single quoted desc"
        assert _re.search(pats["description"], self.PAGE) is None
        found = []
        for p in HTML_ANCHOR_PATTERNS:
            found += _re.findall(p, self.PAGE)
        assert ("https://x.com/a", "first <b>bold</b>") in found
        assert ("/rel", "second") in found


class TestCrawlDelay:
    """parse_crawl_delay (r16): group scoping, first-group-wins,
    garbage values, BOM/comments."""

    def test_group_scoping(self):
        from lotad_spark.pipeline.web import parse_crawl_delay

        body = (
            "User-agent: OtherBot\nCrawl-delay: 99\nDisallow: /x\n\n"
            "User-agent: *\nDisallow: /y\nCrawl-delay: 1.5\n"
        )
        assert parse_crawl_delay(body) == 1.5

    def test_absent_and_garbage(self):
        from lotad_spark.pipeline.web import parse_crawl_delay

        assert parse_crawl_delay("User-agent: *\nDisallow: /a\n") is None
        assert parse_crawl_delay(
            "User-agent: *\nCrawl-delay: fast\n"
        ) is None
        assert parse_crawl_delay(
            "User-agent: *\nCrawl-delay: -3\n"
        ) is None

    def test_first_applicable_wins_and_comments(self):
        from lotad_spark.pipeline.web import parse_crawl_delay

        body = (
            "﻿# banner\nUser-agent: *\nCrawl-delay: 2 # note\n\n"
            "User-agent: *\nCrawl-delay: 7\n"
        )
        assert parse_crawl_delay(body) == 2.0

    def test_fixture_bodies_round_trip(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.web import (
            parse_crawl_delay,
            parse_robots,
        )

        for domain in ("a.com", "b.com"):
            body = entry._robots_body(domain)
            got = [(domain, t, p) for t, p in parse_robots(body)]
            assert got == [
                r for r in entry._ROBOTS_RULES if r[0] == domain
            ]
            delay = parse_crawl_delay(body)
            if domain in entry._CRAWL_DELAYS_MICROS:
                assert delay == entry._CRAWL_DELAYS_MICROS[domain] / 1e6
            else:
                assert delay is None


class TestHtmlTables:
    """html_tables (r16): nested extraction, header rows, ragged
    rows, the flat-table contract."""

    PAGE = (
        "<html><body>"
        "<table><tr><th>A</th><th>B</th></tr>"
        "<tr><td>1</td><td>x <b>bold</b></td></tr>"
        "<tr><td>lone</td></tr></table>"
        "<p>between</p>"
        "<TABLE class='z'><TR><TD>only</TD></TR></TABLE>"
        "</body></html>"
    )

    def test_rows_and_cells(self, spark):
        from lotad_spark.pipeline.web import HTML_CELL_SEP, html_tables

        df = spark.createDataFrame(
            [(1, self.PAGE), (2, "<p>no tables</p>"), (3, None)],
            "doc_id bigint, html string",
        )
        rows = html_tables(df).collect()
        got = {
            (r.doc_id, r.table_idx, r.row_idx): (r.n_cells, r.cells)
            for r in rows
        }
        sep = HTML_CELL_SEP
        assert got[(1, 0, 0)] == (2, f"A{sep}B")
        assert got[(1, 0, 1)] == (2, f"1{sep}x <b>bold</b>")
        assert got[(1, 0, 2)] == (1, "lone")  # ragged row kept
        assert got[(1, 1, 0)] == (1, "only")  # case-folded tags
        assert len(got) == 4  # doc 2/3 contribute nothing

    def test_nested_table_truncates_documented(self, spark):
        # the documented flat-table limit: the outer match ends at the
        # INNER </table>, so the inner rows are what extracts
        from lotad_spark.pipeline.web import html_tables

        page = (
            "<table><tr><td>outer"
            "<table><tr><td>inner</td></tr></table>"
            "</td></tr></table>"
        )
        df = spark.createDataFrame(
            [(1, page)], "doc_id bigint, html string"
        )
        rows = html_tables(df).collect()
        assert any("inner" in r.cells for r in rows)

    def test_plan_no_exchange(self, spark):
        from lotad_spark.pipeline.web import html_tables

        df = spark.createDataFrame(
            [(1, self.PAGE)], "doc_id bigint, html string"
        )
        plan = (
            html_tables(df)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
