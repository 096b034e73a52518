"""WARC source (sources/warc.py): framing round-trips, both storage
layouts, truncation honesty, and the HTTP peel."""

import gzip
import os
import zlib

import pytest

from lotad_spark.sources.warc import (
    iter_warc_records,
    parse_warc_records,
    read_warc,
    warc_http_text,
    write_warc_file,
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress CONCATENATED gzip members (the .warc.gz layout: one
    member per record) into one byte stream, independently of the read
    path's member-at-a-time :func:`iter_warc_records`."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(data[pos:])
        out += d.flush()
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)
    return bytes(out)


def _roundtrip_records(tmp_path, gz):
    name = "a.warc.gz" if gz else "a.warc"
    path = str(tmp_path / name)
    recs = [
        (f"https://x.com/{i}", "text/plain", f"payload {i}".encode())
        for i in range(4)
    ]
    write_warc_file(recs, path, gzip_members=gz)
    data = open(path, "rb").read()
    if gz:
        data = _gunzip_members(data)
    return list(parse_warc_records(data))


class TestWarcFraming:
    @pytest.mark.parametrize("gz", [False, True])
    def test_roundtrip(self, tmp_path, gz):
        parsed = _roundtrip_records(tmp_path, gz)
        assert len(parsed) == 5  # warcinfo + 4 responses
        info_h, info_p = parsed[0]
        assert info_h["warc-type"] == "warcinfo"
        for i, (h, p) in enumerate(parsed[1:]):
            assert h["warc-type"] == "response"
            assert h["warc-target-uri"] == f"https://x.com/{i}"
            assert p.endswith(f"payload {i}".encode())
            assert int(h["content-length"]) == len(p)

    def test_binary_payload_with_embedded_crlf(self):
        """Content-Length framing must NOT resync on payload bytes
        that look like record boundaries."""
        tricky = b"\r\n\r\nWARC/1.0\r\n fake \r\n\r\n" + bytes(range(256))
        rec = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            + f"Content-Length: {len(tricky)}\r\n\r\n".encode()
            + tricky
            + b"\r\n\r\n"
        )
        parsed = list(parse_warc_records(rec + rec))
        assert len(parsed) == 2
        assert parsed[0][1] == tricky and parsed[1][1] == tricky

    def test_truncated_payload_keeps_parsed_prefix(self, tmp_path):
        path = str(tmp_path / "t.warc")
        write_warc_file(
            [("https://x.com/a", "text/plain", b"okokok")], path
        )
        data = open(path, "rb").read()
        parsed_full = list(parse_warc_records(data))
        assert len(parsed_full) == 2
        # cut inside the LAST record's payload: the warcinfo survives,
        # the torn record does not
        parsed_cut = list(parse_warc_records(data[:-12]))
        assert len(parsed_cut) == 1
        assert parsed_cut[0][0]["warc-type"] == "warcinfo"

    def test_missing_content_length_stops_file(self):
        bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
        assert list(parse_warc_records(bad)) == []

    def test_gzip_member_at_a_time_matches_bulk(self, tmp_path):
        """The streaming member parser must agree with bulk
        decompress+parse, including a record SPLIT across members
        (non-standard but legal) and a torn final member."""
        import gzip as _g

        recs = [
            (f"https://x.com/{i}", "text/plain", f"p{i}".encode() * 50)
            for i in range(6)
        ]
        path = str(tmp_path / "m.warc.gz")
        write_warc_file(recs, path, gzip_members=True)
        data = open(path, "rb").read()
        bulk = list(parse_warc_records(_gunzip_members(data)))
        streamed = list(iter_warc_records(data))
        assert [h["warc-record-id"] for h, _p in streamed] == [
            h["warc-record-id"] for h, _p in bulk
        ]
        assert [p for _h, p in streamed] == [p for _h, p in bulk]
        # split one record across two members at an arbitrary byte
        plain = _gunzip_members(data)
        cut = len(plain) * 2 // 3
        split = _g.compress(plain[:cut]) + _g.compress(plain[cut:])
        assert [p for _h, p in iter_warc_records(split)] == [
            p for _h, p in bulk
        ]
        # torn final member: everything before it still parses
        torn = data[:-20]
        got = list(iter_warc_records(torn))
        assert 0 < len(got) < len(bulk)
        assert [p for _h, p in got] == [p for _h, p in bulk[: len(got)]]

    def test_empty_payload_record(self):
        rec = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"Content-Length: 0\r\n\r\n\r\n\r\n"
        )
        parsed = list(parse_warc_records(rec + rec))
        assert [p for _h, p in parsed] == [b"", b""]


class TestWarcSpark:
    def test_read_and_http_peel(self, spark, tmp_path):
        d = str(tmp_path)
        recs = [
            (f"https://x.com/{i}", "text/html", f"<p>d{i}</p>".encode())
            for i in range(3)
        ]
        write_warc_file(recs, os.path.join(d, "p0.warc"))
        write_warc_file(
            recs, os.path.join(d, "p1.warc.gz"), gzip_members=True
        )
        df = warc_http_text(read_warc(spark, d))
        resp = df.filter("warc_type = 'response'").collect()
        assert len(resp) == 6  # 3 per file, both layouts
        for r in resp:
            assert r.http_status == 200
            assert r.body.startswith("<p>d")
        # warcinfo payloads are not HTTP: NULL status, raw body
        info = df.filter("warc_type = 'warcinfo'").collect()
        assert all(
            r.http_status is None and "software" in r.body for r in info
        )


    def test_charset_decode_and_lf_fallback(self, spark, tmp_path):
        """Envelope-charset body decode (exact windows-1252 incl. the
        0x80-9F curly-quote range), the WHATWG latin-1→cp1252 label
        mapping, the LF-only header fallback, and the documented
        mojibake honesty case for unsupported charsets."""
        d = str(tmp_path)
        cp_text = "café ’curly’ €9 — dash"
        recs = [
            # 0: cp1252-labeled cp1252 bytes → exact text back
            (
                "https://x.com/0",
                "text/html; charset=windows-1252",
                cp_text.encode("cp1252"),
            ),
            # 1: iso-8859-1 label, cp1252 bytes (what real pages do)
            (
                "https://x.com/1",
                'text/html; charset="ISO-8859-1"',
                cp_text.encode("cp1252"),
            ),
            # 2: LF-only envelope: body must NOT drop
            ("https://x.com/2", "text/html", b"<p>lf body</p>", "\n"),
            # 3: unrouted charset: bytes reinterpreted as UTF-8
            # (mojibake stays byte-faithful, documented)
            (
                "https://x.com/3",
                "text/html; charset=koi8-r",
                "привет".encode("koi8_r"),
            ),
            # 4: no charset, valid UTF-8 → unchanged
            ("https://x.com/4", "text/html", cp_text.encode("utf-8")),
        ]
        write_warc_file(recs, os.path.join(d, "p.warc"))
        rows = {
            r.target_uri[-1]: r
            for r in warc_http_text(read_warc(spark, d))
            .filter("warc_type = 'response'")
            .collect()
        }
        assert rows["0"].body == cp_text
        assert rows["0"].http_charset == "windows-1252"
        assert rows["1"].body == cp_text
        assert rows["1"].http_charset == "iso-8859-1"
        assert rows["2"].body == "<p>lf body</p>"
        assert rows["2"].http_status == 200
        assert rows["3"].http_charset == "koi8-r"
        assert rows["3"].body != "привет"  # honest mojibake
        assert rows["4"].body == cp_text
        assert rows["4"].http_charset is None

    def test_mixed_lf_crlf_envelope_keeps_body(self, spark, tmp_path):
        """LF-terminated header lines with a CRLF blank line (the
        review-caught third separator form): previously misread as
        headers-only, silently dropping the body."""
        d = str(tmp_path)
        recs = [
            # mixed: nl='\n', blank='\r\n'
            ("https://x.com/0", "text/html", b"<p>mixed body</p>", "\n", "\r\n"),
            # control: pure CRLF in the same file
            ("https://x.com/1", "text/html", b"<p>crlf body</p>"),
            # genuinely headers-only (no blank line at all)
            ("https://x.com/2", "text/html", b""),
        ]
        write_warc_file(recs, os.path.join(d, "p.warc"))
        rows = {
            r.target_uri[-1]: r
            for r in warc_http_text(read_warc(spark, d))
            .filter("warc_type = 'response'")
            .collect()
        }
        assert rows["0"].body == "<p>mixed body</p>"
        assert rows["0"].http_status == 200
        assert rows["0"].http_content_type == "text/html"
        assert rows["1"].body == "<p>crlf body</p>"
        assert rows["2"].body == ""

    def test_cjk_charset_decode(self, spark, tmp_path):
        """The r16 CJK families decode exactly per the WHATWG label
        mapping: every family, a non-canonical alias per family, and
        malformed bytes softening to U+FFFD instead of failing the
        scan."""
        d = str(tmp_path)
        cases = [
            # (label, python codec mirroring the routed JVM decoder,
            #  text)
            ("shift_jis", "cp932", "日本語のテキスト、テスト用です。"),
            ("sjis", "cp932", "片仮名カタカナ"),  # alias
            ("euc-jp", "euc_jp", "こんにちは、世界。"),
            ("gbk", "gbk", "中文文本,简体测试。"),
            ("gb2312", "gbk", "简体别名路由。"),  # alias → GBK decoder
            ("gb18030", "gb18030", "𠀀扩展平面"),  # 4-byte form
            ("euc-kr", "cp949", "한국어 텍스트 예시입니다."),
            ("korean", "cp949", "별칭 라벨"),  # alias
            # r17: the big5 label routes through Big5-HKSCS — plain
            # Big5 text still decodes identically (superset), and
            # HKSCS-only Cantonese chars now decode instead of U+FFFD
            ("big5", "big5hkscs", "中文測試,繁體字樣。"),
            ("big5", "big5hkscs", "佢哋嘅嘢喺咗度。"),
        ]
        recs = [
            (
                f"https://x.com/{i}",
                f"text/html; charset={label}",
                text.encode(codec),
            )
            for i, (label, codec, text) in enumerate(cases)
        ]
        # malformed shift_jis: lone lead byte → U+FFFD, never a
        # task failure
        recs.append(
            (
                f"https://x.com/{len(cases)}",
                "text/html; charset=shift_jis",
                "日本".encode("cp932") + b"\x81",
            )
        )
        write_warc_file(recs, os.path.join(d, "p.warc"))
        rows = {
            int(r.target_uri.rsplit("/", 1)[1]): r
            for r in warc_http_text(read_warc(spark, d))
            .filter("warc_type = 'response'")
            .collect()
        }
        for i, (label, codec, text) in enumerate(cases):
            assert rows[i].http_charset == label
            assert rows[i].body == text, (label, rows[i].body)
        assert rows[len(cases)].body == "日本�"

    def test_cp1252_decode_matches_python(self, spark):
        """Every defined cp1252 byte decodes exactly as Python's
        cp1252 codec; the 5 undefined bytes take the WHATWG C1 rule."""
        import pyspark.sql.functions as F

        from lotad_spark.sources.warc import _cp1252_decode

        undefined = {0x81, 0x8D, 0x8F, 0x90, 0x9D}
        data = bytes(range(256))
        got = (
            spark.createDataFrame([(data,)], "b binary")
            .select(_cp1252_decode(F.col("b")).alias("s"))
            .collect()[0]
            .s
        )
        assert len(got) == 256
        for i, ch in enumerate(got):
            if i in undefined:
                assert ord(ch) == i  # C1 control kept (WHATWG)
            else:
                assert ch == bytes([i]).decode("cp1252"), hex(i)


class TestWarcCrashRobustness:
    def test_never_raises(self, tmp_path):
        """A corrupt crawl shard must never kill the job: truncation
        sweep, random byte flips, and garbage through both the plain
        and gzip record iterators."""
        import numpy as np

        rng = np.random.RandomState(11)
        recs = [
            (f"https://x.com/{i}", "text/plain", b"pay" * (i + 1))
            for i in range(3)
        ]
        plain_p = str(tmp_path / "p.warc")
        gz_p = str(tmp_path / "p.warc.gz")
        write_warc_file(recs, plain_p)
        write_warc_file(recs, gz_p, gzip_members=True)
        for p in (open(plain_p, "rb").read(), open(gz_p, "rb").read()):
            for k in range(0, len(p), 3):  # truncation sweep
                list(iter_warc_records(p[:k]))
            for _ in range(60):  # random byte flips
                b = bytearray(p)
                for _ in range(rng.randint(1, 5)):
                    b[rng.randint(0, len(b))] = rng.randint(0, 256)
                list(iter_warc_records(bytes(b)))
        for _ in range(100):  # pure garbage (incl. gzip-magic prefix)
            t = bytes(
                rng.randint(0, 256, rng.randint(0, 200)).astype(np.uint8)
            )
            list(iter_warc_records(t))
            list(iter_warc_records(b"\x1f\x8b" + t))


class TestWet:
    """read_wet / write_wet_file (r16): conversion-record round-trip,
    type filtering, multi-byte UTF-8, both layouts."""

    def test_round_trip_both_layouts(self, spark, tmp_path):
        from lotad_spark.sources.warc import read_wet, write_wet_file

        d = str(tmp_path)
        recs = [
            ("https://x.com/0", "plain ascii text"),
            ("https://x.com/1", "multi-byte — résumé 中文 ✓"),
            ("https://x.com/2", ""),
        ]
        write_wet_file(recs[:2], os.path.join(d, "a.warc"))
        write_wet_file(
            recs[2:], os.path.join(d, "b.warc.gz"), gzip_members=True
        )
        got = {r.target_uri: r for r in read_wet(spark, d).collect()}
        for uri, text in recs:
            assert got[uri].text == text, uri
            assert got[uri].n_bytes == len(text.encode("utf-8"))

    def test_response_records_drop_by_type(self, spark, tmp_path):
        from lotad_spark.sources.warc import (
            read_wet,
            write_warc_file,
            write_wet_file,
        )

        d = str(tmp_path)
        # a RESPONSE archive in the same dir contributes no WET rows
        write_warc_file(
            [("https://x.com/resp", "text/html", b"<p>html</p>")],
            os.path.join(d, "resp.warc"),
        )
        write_wet_file(
            [("https://x.com/conv", "converted text")],
            os.path.join(d, "conv.warc"),
        )
        rows = read_wet(spark, d).collect()
        assert [(r.target_uri, r.text) for r in rows] == [
            ("https://x.com/conv", "converted text")
        ]


class TestWat:
    """read_wat / wat_links (r16): envelope parsing, malformed-JSON
    honesty, linkless records."""

    def test_links_round_trip(self, spark, tmp_path):
        import json

        from lotad_spark.sources.warc import (
            read_wat,
            wat_links,
            write_wat_file,
        )

        d = str(tmp_path)
        meta = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Links": [
                                {"path": "A@/href", "url": "https://y.com/1"},
                                {"path": "IMG@/src", "url": "/img.png"},
                            ]
                        }
                    }
                }
            }
        }
        recs = [
            ("https://x.com/a", json.dumps(meta)),
            ("https://x.com/bad", '{"Envelope": {"Payl'),  # malformed
            ("https://x.com/none", '{"Envelope": {}}'),     # linkless
        ]
        write_wat_file(recs, os.path.join(d, "a.warc.gz"), gzip_members=True)
        rows = wat_links(read_wat(spark, d)).collect()
        got = sorted((r.target_uri, r.url, r.path) for r in rows)
        assert got == [
            ("https://x.com/a", "/img.png", "IMG@/src"),
            ("https://x.com/a", "https://y.com/1", "A@/href"),
        ]


class TestCjkConfReassert:
    """r17 advice fix: the two legacy decode confs are re-asserted at
    every plan-build entry point, so a session whose confs were reset
    between builds gets them re-pinned by the next build."""

    def test_http_text_repins_confs(self, spark):
        from lotad_spark.sources.warc import warc_http_text

        spark.conf.set("spark.sql.legacy.javaCharsets", "false")
        spark.conf.set("spark.sql.legacy.codingErrorAction", "false")
        df = spark.createDataFrame(
            [(bytearray(b"HTTP/1.1 200 OK\r\n\r\nhi"),)],
            "content binary",
        )
        out = warc_http_text(df)
        assert spark.conf.get("spark.sql.legacy.javaCharsets") == "true"
        assert (
            spark.conf.get("spark.sql.legacy.codingErrorAction")
            == "true"
        )
        assert out.collect()[0].body == "hi"


class TestHttpUnwrap:
    """warc_http_unwrap (r17): chunked de-framing, gzip/deflate
    inflate with budget, label-preserving NULLs, charset ladder over
    decoded bytes."""

    def test_payload_matrix(self):
        import gzip
        import zlib

        from lotad_spark.sources.warc import _http_unwrap_payload

        html = "café über — body".encode("utf-8")
        mk = lambda hdrs, body: (  # noqa: E731
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + hdrs + b"\r\n" + body
        )
        # identity
        got = _http_unwrap_payload(mk(b"", html))
        assert got[0] == 200 and got[5] == html
        # gzip
        got = _http_unwrap_payload(
            mk(b"Content-Encoding: gzip\r\n", gzip.compress(html))
        )
        assert got[3] == "gzip" and got[5] == html
        # zlib-wrapped deflate AND raw deflate (the browser rule)
        for enc in (zlib.compress(html),
                    zlib.compressobj(9, zlib.DEFLATED, -15).compress(html)
                    + zlib.compressobj(9, zlib.DEFLATED, -15).flush()):
            pass
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        raw = co.compress(html) + co.flush()
        for body in (zlib.compress(html), raw):
            got = _http_unwrap_payload(
                mk(b"Content-Encoding: deflate\r\n", body)
            )
            assert got[4] is None and got[5] == html
        # chunked, then chunked+gzip layering
        def chunked(b):
            out = b""
            for i in range(0, len(b), 7):
                c = b[i : i + 7]
                out += f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n"
            return out + b"0\r\n\r\n"

        got = _http_unwrap_payload(
            mk(b"Transfer-Encoding: chunked\r\n", chunked(html))
        )
        assert got[4] == "chunked" and got[5] == html
        got = _http_unwrap_payload(
            mk(
                b"Content-Encoding: gzip\r\n"
                b"Transfer-Encoding: chunked\r\n",
                chunked(gzip.compress(html)),
            )
        )
        assert got[5] == html
        # unsupported coding: NULL body, label intact
        got = _http_unwrap_payload(
            mk(b"Content-Encoding: br\r\n", b"\x1b\x2c\x00")
        )
        assert got[3] == "br" and got[5] is None
        # malformed chunk framing and truncated gzip: NULL body
        got = _http_unwrap_payload(
            mk(b"Transfer-Encoding: chunked\r\n", b"zz\r\nhello")
        )
        assert got[5] is None
        got = _http_unwrap_payload(
            mk(b"Content-Encoding: gzip\r\n", gzip.compress(html)[:-3])
        )
        assert got[5] is None
        # non-HTTP and headers-only
        assert _http_unwrap_payload(b"plain bytes") is None
        got = _http_unwrap_payload(b"HTTP/1.1 200 OK\r\nX: y")
        assert got[0] == 200 and got[5] == b""

    def test_spark_face_with_charset(self, spark, tmp_path):
        import gzip
        import os

        from lotad_spark.sources.warc import (
            read_warc,
            unwrapped_body_text,
            warc_http_unwrap,
            write_warc_file,
        )

        d = str(tmp_path)
        cp = "café — quote’s".encode("cp1252")
        sj = "日本語の本文。".encode("cp932")
        recs = [
            ("https://x.com/0", "text/html; charset=windows-1252",
             gzip.compress(cp), "\r\n", "\r\n",
             [("Content-Encoding", "gzip")]),
            ("https://x.com/1", "text/html; charset=shift_jis",
             sj),
            ("https://x.com/2", "text/html",
             b"\x00broken", "\r\n", "\r\n",
             [("Content-Encoding", "gzip")]),
        ]
        write_warc_file(recs, os.path.join(d, "u.warc"))
        rows = {
            r.target_uri[-1]: r
            for r in unwrapped_body_text(
                warc_http_unwrap(read_warc(spark, d))
            )
            .filter("warc_type = 'response'")
            .collect()
        }
        assert rows["0"].text == "café — quote’s"
        assert rows["0"].http_content_encoding == "gzip"
        assert rows["1"].text == "日本語の本文。"
        assert rows["2"].text is None  # truncated gzip: loud absence


class TestHttpUnwrapReviewFixes:
    """r17 review fixes: chunk-size strictness (a negative hex size
    previously looped forever on one crafted record), multi-member
    gzip, trailing-garbage refusal, TE identity passthrough."""

    def test_dechunk_strictness(self):
        from lotad_spark.sources.warc import _dechunk

        assert _dechunk(b"3\r\nabc\r\n0\r\n\r\n") == b"abc"
        # trailer fields before the terminator are skipped
        assert _dechunk(b"3\r\nabc\r\n0\r\nX-T: y\r\n\r\n") == b"abc"
        # negative / prefixed / underscored sizes: int(x,16) accepts
        # them, HTTP does not — and -6 used to hang the parser
        for bad in (b"-6\r\n", b"0x2\r\nab\r\n0\r\n\r\n",
                    b"1_0\r\n" + b"a" * 16 + b"\r\n0\r\n\r\n",
                    b"+3\r\nabc\r\n0\r\n\r\n"):
            assert _dechunk(b"1\r\nZ\r\n" + bad) is None, bad
        # missing final terminator: truncation is not completion
        assert _dechunk(b"3\r\nabc\r\n0\r\n") is None

    def test_multi_member_gzip_and_garbage(self):
        import gzip
        import zlib

        from lotad_spark.sources.warc import _inflate_body

        two = gzip.compress(b"part one. ") + gzip.compress(b"part two.")
        assert _inflate_body(two, "gzip") == b"part one. part two."
        assert _inflate_body(gzip.compress(b"x") + b"JUNK", "gzip") is None
        assert (
            _inflate_body(zlib.compress(b"x") + b"JUNK", "deflate")
            is None
        )

    def test_te_identity_passthrough(self):
        from lotad_spark.sources.warc import _http_unwrap_payload

        got = _http_unwrap_payload(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: identity\r\n\r\nhi"
        )
        assert got[4] == "identity" and got[5] == b"hi"
        # unknown TE still refuses
        got = _http_unwrap_payload(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\nxx"
        )
        assert got[5] is None

    def test_column_collision_refused_up_front(self, spark):
        """r18 ADVICE: appending onto a frame that already carries an
        output name must raise a named ValueError at build time, not a
        duplicate-field failure later at analysis."""
        import pytest

        from lotad_spark.sources.warc import warc_http_unwrap

        df = spark.createDataFrame(
            [(1, bytearray(b"x"), 200)],
            "id bigint, content binary, http_status int",
        )
        with pytest.raises(ValueError, match="http_status"):
            warc_http_unwrap(df)


class TestInflateBound:
    def test_bomb_member_keeps_prior_records(self, monkeypatch):
        """r17: a crafted gzip member inflating past the rolling-buffer
        bound is treated as torn AT that member — records already
        parsed are kept, the task never OOMs."""
        import gzip as _g

        from lotad_spark.sources import warc as warc_mod
        from lotad_spark.sources.warc import iter_warc_records

        rec = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Record-ID: <urn:uuid:ok-1>\r\n"
            b"Content-Length: 4\r\n\r\nokok\r\n\r\n"
        )
        bomb = _g.compress(b"\x00" * (1 << 22))  # inflates to 4 MiB
        data = _g.compress(rec) + bomb + _g.compress(rec)
        monkeypatch.setattr(warc_mod, "_WARC_INFLATE_LIMIT", 1 << 16)
        got = list(iter_warc_records(data))
        assert len(got) == 1  # the record before the bomb survives
        assert got[0][1] == b"okok"
        # without the tiny cap the same file parses fully (the bomb
        # "record" is just garbage that stops the parse at its header)
        monkeypatch.setattr(warc_mod, "_WARC_INFLATE_LIMIT", 1 << 30)
        got = list(iter_warc_records(data))
        assert [p for _h, p in got][0] == b"okok"


class TestHttpEncodingCounts:
    """http_encoding_counts (r18): the wire-coding telemetry behind
    the brotli go/no-go — label normalization, decoded flag, and the
    bounded-key partial-agg plan."""

    def test_counts_and_labels(self, spark):
        from lotad_spark.sources.warc import (
            http_encoding_counts,
            warc_http_unwrap,
        )
        import gzip

        def resp(extra_headers, body):
            h = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            for k, v in extra_headers:
                h += f"{k}: {v}\r\n".encode()
            return h + b"\r\n" + body

        rows = [
            (1, resp([], b"plain")),
            (2, resp([("Content-Encoding", "gzip")],
                     gzip.compress(b"zipped"))),
            (3, resp([("Content-Encoding", "br")], b"\x1b\x2e")),
            (4, resp([("Content-Encoding", "br")], b"\x1b\x2e")),
        ]
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in rows],
            "id bigint, content binary",
        )
        got = {
            (r.content_encoding, r.transfer_encoding, r.decoded): r.n
            for r in http_encoding_counts(warc_http_unwrap(df)).collect()
        }
        assert got == {
            ("identity", "none", True): 1,
            ("gzip", "none", True): 1,
            ("br", "none", False): 2,  # refused, label intact
        }

    def test_plan_partial_agg(self, spark):
        from lotad_spark.sources.warc import (
            http_encoding_counts,
            warc_http_unwrap,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"HTTP/1.1 200 OK\r\n\r\nx"))],
            "id bigint, content binary",
        )
        plan = (
            http_encoding_counts(warc_http_unwrap(df))
            ._jdf.queryExecution().executedPlan().toString()
        )
        # two-phase hash aggregate around one bounded-key exchange
        assert plan.count("HashAggregate") >= 2
        assert plan.count("MapInPandas") == 1
