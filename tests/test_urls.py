"""URL/domain curation tests.

The canonicalization spec is pinned two independent ways: unit cases
here, and a randomized adversarial-corpus parity sweep against a pure
Python reference built on ``urllib.parse`` — a genuinely different
parser, so a convention the Spark regex pipeline and the DuckDB oracle
might accidentally SHARE still gets caught (the oracle-blind-spot
methodology that caught the normalize_text trim bug)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lotad_spark.pipeline.urls import (
    TRACKING_PARAMS,
    TRACKING_PREFIX,
    canonicalize_urls,
    domain_blocklist_filter,
    domain_cap,
    domain_stats,
    url_dedup,
)


def _py_canonical(url: str | None) -> str | None:
    """Independent reference: urllib.parse does the parsing, plain
    Python applies the 7 documented steps."""
    from urllib.parse import urlsplit

    if url is None:
        return None
    u = url.strip()
    if not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", u):
        return None
    sp = urlsplit(u)
    scheme = sp.scheme.lower()
    host = (sp.hostname or "").lower()
    if host.startswith("www."):
        host = host[4:]
    if not host:
        return None
    m = re.search(r":(\d+)$", sp.netloc)
    port = m.group(1) if m else ""
    if (scheme == "http" and port == "80") or (
        scheme == "https" and port == "443"
    ):
        port = ""
    port_sfx = f":{port}" if port else ""
    path = sp.path
    if path == "":
        path = "/"
    elif path != "/" and path.endswith("/"):
        path = path[:-1]
    toks = [
        t
        for t in sp.query.split("&")
        if t != ""
        and not t.split("=")[0].lower().startswith(TRACKING_PREFIX)
        and t.split("=")[0].lower() not in TRACKING_PARAMS
    ]
    q = "&".join(sorted(toks))
    return (
        f"{scheme}://{host}{port_sfx}{path}" + (f"?{q}" if q else "")
    )


class TestCanonicalize:
    CASES = [
        # tracking strip + param sort + default port + www + fragment
        (
            "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1&gclid=g#f",
            "https://example.com/a/b?a=1&b=2",
        ),
        ("https://example.com/a/b?a=1&b=2", "https://example.com/a/b?a=1&b=2"),
        # userinfo stripped, non-default port kept, path case kept
        (
            "http://user:pw@Sub.Example.com:8080/Weird/",
            "http://sub.example.com:8080/Weird",
        ),
        # empty path -> /
        ("http://example.com", "http://example.com/"),
        ("http://example.com/", "http://example.com/"),
        # root slash never stripped; one trailing slash elsewhere is
        ("http://example.com/a//", "http://example.com/a/"),
        # no scheme -> NULL
        ("not a url", None),
        ("example.com/path", None),
        # host-less -> NULL
        ("http:///path", None),
        # query-only tracking -> no '?'
        ("http://a.io/x?utm_a=1&utm_b=2", "http://a.io/x"),
        # empty TOKENS dropped (trailing &); an empty-VALUED param
        # (b=) survives — it is still a param; '=' in values rides
        # inside its token
        ("http://a.io/x?b=&a=c=d&", "http://a.io/x?a=c=d&b="),
        # tracking-key match is case-INSENSITIVE (real crawls mix
        # cases); surviving params stay byte-preserved (A=1 keeps A)
        ("http://a.io/x?UTM_Source=x&Gclid=y&A=1", "http://a.io/x?A=1"),
    ]

    def test_unit_cases(self, spark):
        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(self.CASES)],
            "doc_id bigint, url string",
        )
        got = {
            r.doc_id: r.canonical_url
            for r in canonicalize_urls(df).collect()
        }
        for i, (u, want) in enumerate(self.CASES):
            assert got[i] == want, (u, got[i], want)

    def test_unit_cases_match_python_reference(self):
        for u, want in self.CASES:
            assert _py_canonical(u) == want, u

    def test_staging_column_collision_raises(self, spark):
        df = spark.createDataFrame(
            [(1, "http://a.io/x", "boom")],
            "doc_id bigint, url string, _u_host string",
        )
        with pytest.raises(ValueError, match="staging"):
            canonicalize_urls(df)

    def test_null_in_null_out(self, spark):
        df = spark.createDataFrame(
            [(1, None)], "doc_id bigint, url string"
        )
        assert canonicalize_urls(df).collect()[0].canonical_url is None

    def test_single_projection_no_exchange(self, spark):
        df = spark.createDataFrame(
            [(1, "http://a.io/x")], "doc_id bigint, url string"
        )
        plan = (
            canonicalize_urls(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "Python" not in plan  # zero UDFs

    @staticmethod
    def _gnarly_urls(n=400, seed=7):
        import random

        rng = random.Random(seed)
        schemes = ["http", "HTTP", "https", "HTTPS", "ftp", ""]
        hosts = [
            "example.com", "WWW.Example.COM", "sub.a.example.co.uk",
            "a.io", "www.a.io", "localhost", "",
        ]
        ports = ["", ":80", ":443", ":8080", ":0443"]
        users = ["", "u@", "u:p@"]
        paths = ["", "/", "/a", "/a/", "/A/b//c/", "/p%20q"]
        params = [
            "a=1", "b=2", "z=", "utm_source=x", "utm_medium=y",
            "gclid=g", "ref=home", "a=c=d", "", "B=9",
            "UTM_Source=x", "Gclid=g", "REF=home",
        ]
        frags = ["", "#f", "#a?b=1"]
        out = []
        for _ in range(n):
            q = "&".join(
                rng.sample(params, rng.randint(0, 5))
            )
            out.append(
                rng.choice(schemes)
                + ("://" if rng.random() < 0.9 else ":/")
                + rng.choice(users)
                + rng.choice(hosts)
                + rng.choice(ports)
                + rng.choice(paths)
                + (("?" + q) if q and rng.random() < 0.9 else "")
                + rng.choice(frags)
            )
        return out

    def test_randomized_parity_vs_python_reference(self, spark):
        urls = self._gnarly_urls()
        df = spark.createDataFrame(
            list(enumerate(urls)), "doc_id bigint, url string"
        )
        got = {
            r.doc_id: r.canonical_url
            for r in canonicalize_urls(df).collect()
        }
        mismatches = [
            (u, got[i], _py_canonical(u))
            for i, u in enumerate(urls)
            if got[i] != _py_canonical(u)
        ]
        assert not mismatches, mismatches[:5]


class TestUrlDedup:
    def test_min_id_keeps_and_nulls_self_keep(self, spark):
        df = spark.createDataFrame(
            [
                (5, "https://www.A.io/x?utm_a=1"),
                (2, "https://a.io/x"),
                (9, "HTTPS://A.IO:443/x/"),
                (3, "junk"),
                (4, "junk"),
            ],
            "doc_id bigint, url string",
        )
        got = {r.doc_id: r for r in url_dedup(df).collect()}
        assert got[2].keep_id == 2 and not got[2].is_dup
        assert got[5].keep_id == 2 and got[5].is_dup
        assert got[9].keep_id == 2 and got[9].is_dup
        # unparseable rows are never each other's duplicates
        assert got[3].keep_id == 3 and not got[3].is_dup
        assert got[4].keep_id == 4 and not got[4].is_dup


class TestUrlIndex:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, url string")

    def test_probe_flags_index_and_batch_dups(self, spark, tmp_path):
        from lotad_spark.pipeline import (
            url_dedup_against_index,
            write_url_index,
        )

        day1 = self._df(spark, [
            (1, "https://www.a.io/x?utm_a=1"),
            (2, "http://b.io/y"),
            (3, "junk"),
        ])
        idx = str(tmp_path / "idx")
        write_url_index(day1, idx)
        # unparseable URLs are not indexed
        assert spark.read.parquet(f"{idx}/urls").count() == 2
        batch = self._df(spark, [
            (10, "https://a.io/x"),          # in index (canonical match)
            (11, "http://new.io/z"),         # new, unique
            (12, "http://new.io/z?gclid=1"), # batch dup of 11
            (13, "junk"),                    # unparseable: keeps itself
        ])
        got = {
            r.doc_id: r
            for r in url_dedup_against_index(spark, idx, batch).collect()
        }
        assert got[10].is_dup and got[10].dup_source == "index"
        assert not got[11].is_dup and got[11].dup_source is None
        assert got[12].is_dup and got[12].dup_source == "batch"
        assert not got[13].is_dup

    def test_append_equals_rebuild_over_union(self, spark, tmp_path):
        from lotad_spark.pipeline import (
            append_to_url_index,
            url_dedup_against_index,
            write_url_index,
        )

        day1 = self._df(spark, [(1, "http://a.io/1"), (2, "http://a.io/2")])
        day2 = self._df(spark, [(3, "http://a.io/2"), (4, "http://a.io/3")])
        inc = str(tmp_path / "inc")
        write_url_index(day1, inc)
        append_to_url_index(day2, inc)
        fresh = str(tmp_path / "fresh")
        write_url_index(day1.unionByName(day2), fresh)
        # identical stored sets and meta
        a = sorted(r[0] for r in spark.read.parquet(f"{inc}/urls").collect())
        b = sorted(r[0] for r in spark.read.parquet(f"{fresh}/urls").collect())
        assert a == b and len(a) == 3
        assert (
            spark.read.parquet(f"{inc}/meta").collect()[0].n_urls == 3
        )
        # probe-after-append == probe-against-rebuild
        probe = self._df(spark, [(9, "http://a.io/3"), (10, "http://a.io/9")])
        ga = sorted(map(tuple, url_dedup_against_index(spark, inc, probe).collect()))
        gf = sorted(map(tuple, url_dedup_against_index(spark, fresh, probe).collect()))
        assert ga == gf
        # re-running the append is a no-op (crash-recovery contract)
        append_to_url_index(day2, inc)
        assert spark.read.parquet(f"{inc}/urls").count() == 3


class TestUrlIndexCli:
    def test_build_append_probe(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        d1 = spark.createDataFrame(
            [(1, "http://a.io/1"), (2, "http://a.io/2")],
            "doc_id bigint, url string",
        )
        d2 = spark.createDataFrame(
            [(3, "http://a.io/2"), (4, "http://a.io/3"),
             (5, "http://a.io/3?utm_x=1")],
            "doc_id bigint, url string",
        )
        p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
        d1.write.parquet(p1)
        d2.write.parquet(p2)
        idx = str(tmp_path / "idx")
        r = CliRunner().invoke(
            cli, ["url-index", "--docs", p1, "--index", idx],
            catch_exceptions=False,
        )
        assert r.exit_code == 0 and "n_urls=2" in r.output
        r = CliRunner().invoke(
            cli,
            ["url-index", "--docs", p2, "--index", idx, "--append",
             "--probe", p2],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        assert "n_urls=3" in r.output
        # after the append every probe row's canonical is stored, so
        # all three read as index dups
        assert "3 index dups + 0 batch dups of 3 rows" in r.output


class TestDomainOps:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "http://a.example.com/1"),
                (2, "http://a.example.com/2"),
                (3, "http://a.example.com/2?utm_x=1"),
                (4, "http://b.io/1"),
                (5, "nope"),
            ],
            "doc_id bigint, url string",
        )

    def test_domain_stats(self, spark):
        got = {
            r.domain: r for r in domain_stats(self._df(spark)).collect()
        }
        a = got["a.example.com"]
        assert (a.n_docs, a.n_urls) == (3, 2)  # 2 and 3 collapse
        assert a.apex_domain == "example.com"
        assert got["b.io"].n_docs == 1 and got["b.io"].apex_domain == "b.io"
        assert got[None].n_docs == 1 and got[None].n_urls == 0

    def test_domain_cap(self, spark):
        got = {
            r.doc_id: r
            for r in domain_cap(self._df(spark), 2).collect()
        }
        assert [got[i].capped for i in (1, 2, 3)] == [False, False, True]
        assert not got[4].capped
        assert not got[5].capped and got[5].domain is None
        with pytest.raises(ValueError):
            domain_cap(self._df(spark), 0)

    def test_blocklist_suffix_at_label_semantics(self, spark):
        df = spark.createDataFrame(
            [
                (1, "http://example.com/x"),
                (2, "http://deep.sub.example.com/x"),
                (3, "http://notexample.com/x"),
                (4, "nope"),
            ],
            "doc_id bigint, url string",
        )
        got = {
            r.doc_id: r
            for r in domain_blocklist_filter(
                df, ["Example.com", "b.io"]
            ).collect()
        }
        assert got[1].blocked and got[1].blocked_by == "example.com"
        assert got[2].blocked  # subdomain matches
        assert not got[3].blocked  # substring does NOT
        assert not got[4].blocked and got[4].blocked_by is None
        with pytest.raises(ValueError):
            domain_blocklist_filter(df, [])
        # whitespace-padded entries normalize instead of silently
        # never matching (ADVICE r12)
        got_ws = {
            r.doc_id: r
            for r in domain_blocklist_filter(
                df, [" Example.com ", "\t.b.io\n"]
            ).collect()
        }
        assert got_ws[1].blocked
        assert got_ws[1].blocked_by == "example.com"
        assert not got_ws[3].blocked

    PSL_LINES = [
        "// test snapshot (PSL format: publicsuffix.org/list/)",
        "",
        "com",
        "uk",
        "co.uk",
        "au",
        "com.au",
        "ck",
        "*.ck",
        "!www.ck",
    ]

    def test_psl_parse_and_reference(self):
        from lotad_spark.pipeline.urls import load_psl, psl_apex

        rules = load_psl(self.PSL_LINES)
        assert ("co.uk", 2, False) in rules
        assert ("www.ck", 2, True) in rules  # '!' stripped, flagged
        cases = [
            ("example.co.uk", "example.co.uk"),   # multi-label suffix
            ("a.b.example.co.uk", "example.co.uk"),
            ("example.com.au", "example.com.au"),
            ("x.com", "x.com"),
            ("co.uk", None),            # host IS a public suffix
            ("b.src.ck", "b.src.ck"),   # wildcard *.ck
            ("src.ck", None),           # '*' makes src.ck the suffix
            ("x.www.ck", "www.ck"),     # exception rule
            ("www.ck", "www.ck"),
            ("localhost", None),        # single label: no registrable
            ("foo.unlisted", "foo.unlisted"),  # default 1-label rule
            (None, None),
        ]
        for host, want in cases:
            assert psl_apex(host, rules) == want, (host, want)
        with pytest.raises(ValueError, match="no rules"):
            load_psl(["// only comments"])
        with pytest.raises(ValueError, match="malformed"):
            load_psl([".leading.dot"])

    def test_domain_stats_psl_mode(self, spark):
        from lotad_spark.pipeline.urls import domain_stats, load_psl

        rules = load_psl(self.PSL_LINES)
        df = spark.createDataFrame(
            [
                (1, "http://a.example.co.uk/x"),
                (2, "http://example.co.uk/x"),
                (3, "http://b.src.ck/x"),
                (4, "http://co.uk/x"),        # public suffix itself
                (5, "not a url"),
            ],
            "doc_id bigint, url string",
        )
        got = {
            r.domain: r.apex_domain
            for r in domain_stats(df, apex="psl", psl_rules=rules).collect()
        }
        assert got["a.example.co.uk"] == "example.co.uk"
        assert got["example.co.uk"] == "example.co.uk"
        assert got["b.src.ck"] == "b.src.ck"
        assert got["co.uk"] is None
        assert got[None] is None  # unparseable bucket keeps NULL apex
        # last2 default unchanged, and mis-groups exactly as documented
        last2 = {
            r.domain: r.apex_domain for r in domain_stats(df).collect()
        }
        assert last2["a.example.co.uk"] == "co.uk"
        with pytest.raises(ValueError, match="psl_rules"):
            domain_stats(df, apex="psl")
        with pytest.raises(ValueError, match="apex"):
            domain_stats(df, apex="etld")

    def test_apex_psl_parity_vs_python_reference(self, spark):
        """Randomized host corpus: the Spark broadcast-join matcher
        must agree with the driver-side reference on every host."""
        import random

        from lotad_spark.pipeline.urls import (
            apex_psl_frame,
            load_psl,
            psl_apex,
        )

        rules = load_psl(self.PSL_LINES)
        rng = random.Random(13)
        parts = ["a", "b", "www", "src", "example", "x9"]
        tlds = ["com", "uk", "co.uk", "au", "com.au", "ck", "net", "org"]
        hosts = list(
            {
                ".".join(rng.sample(parts, rng.randint(0, 3)) + [t])
                if rng.random() < 0.9
                else t
                for t in (rng.choice(tlds) for _ in range(200))
            }
        )
        df = spark.createDataFrame(
            [(h,) for h in hosts], "domain string"
        )
        got = {
            r.domain: r.apex_domain
            for r in apex_psl_frame(df, rules).collect()
        }
        for h in hosts:
            assert got[h] == psl_apex(h, rules), h

    def test_blocklist_psl_guardrail(self, spark):
        from lotad_spark.pipeline.urls import load_psl

        rules = load_psl(self.PSL_LINES)
        df = spark.createDataFrame(
            [(1, "http://a.example.co.uk/x")],
            "doc_id bigint, url string",
        )
        # a registrable-domain entry passes with the guardrail on
        got = domain_blocklist_filter(
            df, ["example.co.uk"], psl_rules=rules
        ).collect()
        assert got[0].blocked
        with pytest.raises(ValueError, match="public suffixes"):
            domain_blocklist_filter(
                df, ["example.com", "co.uk"], psl_rules=rules
            )

    def test_shuffle_budgets(self, spark, sf_dir):
        """The documented exchange counts: url_dedup = ONE exchange
        keyed on the canonical URL (the window); domain_stats = TWO
        (the exact count-distinct's (domain, url) partial exchange —
        bounded by distinct URLs — plus the domain-keyed final)."""
        from pyspark.sql import functions as F

        from lotad_spark.sources.parquet import read_table

        docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.concat(
                F.lit("http://d"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".io/p/"),
                (F.col("doc_id") % 11).cast("string"),
            ).alias("url"),
        )
        plan = (
            url_dedup(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning(canonical_url") == 1
        assert plan.count("Exchange") == 1
        plan2 = (
            domain_stats(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        ex_lines = [
            l for l in plan2.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(ex_lines) == 2, ex_lines
        assert sum(
            1 for l in ex_lines if "canonical_url" in l
        ) == 1  # the distinct's (domain, url) partial exchange
        assert all("domain" in l for l in ex_lines)

    def test_url_cli_commands(self, spark, tmp_path):
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        docs = spark.createDataFrame(
            [
                (1, "https://www.a.io/x?utm_a=1"),
                (2, "https://a.io/x"),
                (3, "http://b.io/y"),
                (4, "junk"),
            ],
            "doc_id bigint, url string",
        )
        src = str(tmp_path / "docs")
        docs.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        r = CliRunner().invoke(
            cli,
            ["url-dedup", "--docs", src, "--output", out],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        assert "1/4 duplicate URLs, 1 unparseable" in r.output
        out2 = str(tmp_path / "out2")
        r = CliRunner().invoke(
            cli,
            ["domain-stats", "--docs", src, "--output", out2],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        assert "3 domains" in r.output  # a.io, b.io, NULL

    def test_canonicalize_streams(self, spark, tmp_path):
        """canonicalize_urls is a stateless projection — it must run
        unchanged on readStream and match the batch output (the
        repo-wide stream≡batch contract for scan-stage gates)."""
        df = spark.createDataFrame(
            [
                (1, "HTTPS://WWW.A.io:443/x/?utm_a=1&b=2"),
                (2, "junk"),
                (3, "http://b.io/y#f"),
            ],
            "doc_id bigint, url string",
        )
        src = str(tmp_path / "src")
        df.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = (
            canonicalize_urls(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            map(tuple, spark.read.parquet(out).collect())
        )
        want = sorted(map(tuple, canonicalize_urls(df).collect()))
        assert got == want

    def test_blocklist_literal_zero_exchange(self, spark):
        df = spark.createDataFrame(
            [(1, "http://a.io/x")], "doc_id bigint, url string"
        )
        plan = (
            domain_blocklist_filter(df, ["a.io"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestCanonicalUrlDedup:
    """canonical_url_dedup (r17): declared-canonical grouping with
    own-URL fallback and min-id keeper."""

    def test_groups_and_fallback(self, spark):
        from lotad_spark.pipeline.urls import canonical_url_dedup

        rows = [
            # a mirror family: three pages declaring one canonical
            (1, "https://a.com/x", "https://a.com/canonical"),
            (2, "https://amp.a.com/x", "https://a.com/canonical"),
            (3, "https://m.a.com/x?sid=9", "https://a.com/canonical"),
            # no canonical: own URL is the group key
            (4, "https://b.com/y", None),
            # two canonical-less pages never collapse
            (5, "https://c.com/z", None),
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, url string, canonical string"
        )
        got = {
            r.canonical_url: r
            for r in canonical_url_dedup(df).collect()
        }
        fam = got["https://a.com/canonical"]
        assert fam.n_pages == 3 and fam.keeper_doc_id == 1
        assert got["https://b.com/y"].n_pages == 1
        assert got["https://c.com/z"].keeper_doc_id == 5
        assert len(got) == 3

    def test_single_bounded_shuffle(self, spark):
        from lotad_spark.pipeline.urls import canonical_url_dedup

        df = spark.createDataFrame(
            [(1, "https://a.com/x", None)],
            "doc_id bigint, url string, canonical string",
        )
        plan = (
            canonical_url_dedup(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one exchange on the canonical key, with a map-side partial
        assert plan.count("Exchange") <= 1
        assert "partial_count" in plan or "HashAggregate" in plan
