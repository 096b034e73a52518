"""WARC (Web ARChive, ISO 28500 — the format web crawls ship in) as a
Spark source: ``read_warc`` turns a directory of ``.warc`` /
``.warc.gz`` files into a DataFrame of records, and
``warc_http_text`` peels the HTTP envelope off response records so the
body flows straight into :mod:`lotad_spark.pipeline.web`
(``html_to_text`` → quality → dedup — the full crawl-to-training-text
chain).

Spark-first shape: files load through the built-in ``binaryFile``
source (whole-file rows), and record framing parses inside ONE Arrow
``mapInPandas`` stage — so parallelism is per-FILE, which is exactly
how production crawl corpora shard: a crawl is tens of thousands of
~1 GiB ``.warc.gz`` files, and per-record-gzip members make the files
non-splittable anyway. At 100 TB the scan parallelism is the file
count, the parse is linear in bytes, and the big payloads never
shuffle (downstream operators project/filter before any exchange).

Framing per the public spec: each record is a ``WARC/1.x`` version
line, CRLF-separated named headers (``Content-Length`` counts payload
BYTES), one blank line, the payload, and a trailing CRLF CRLF.
``.warc.gz`` files are CONCATENATED per-record gzip members — decoded
by chained ``zlib`` decompressobj calls (stdlib, zero deps).

Honest limits (documented, not guessed around): records with a
missing/non-integer ``Content-Length`` terminate the parse of that
FILE (framing is byte-offset based — there is nothing safe to resync
on), and everything parsed up to that point is kept; headers are
latin-1-decoded per the HTTP convention; ``warc_http_text`` decodes
bodies per the envelope charset for the windows-1252/Latin-1 family
and as a non-validating UTF-8 reinterpret otherwise (its docstring
has the exact rules)."""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "path string, record_id string, warc_type string, "
    "target_uri string, warc_date string, content_type string, "
    "content binary"
)


def _records_with_end(data: bytes):
    """Yield (headers_dict, payload_bytes, end_offset) per complete
    record in ``data``; stops (without consuming) at the first
    incomplete or malformed record."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        head = data[pos : head_end].decode("latin-1")
        lines = head.split("\r\n")
        headers: dict = {}
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            break
        body_start = head_end + 4
        if body_start + length > n:
            break  # truncated payload: nothing safe to keep
        yield headers, data[body_start : body_start + length], (
            body_start + length
        )
        pos = body_start + length


def parse_warc_records(data: bytes):
    """Yield (headers_dict, payload_bytes) per record of a PLAIN (not
    gzipped) WARC byte string. Stops at the first malformed record
    (see module docstring)."""
    for headers, payload, _end in _records_with_end(data):
        yield headers, payload


_GZ_CHUNK = 1 << 18  # 256 KiB feed size for the member decompressor

# Rolling-buffer inflate bound (r17): deflate's ~1000:1 max ratio
# means a small crafted member can inflate a task to OOM; a legitimate
# WARC record never approaches this. Exceeding it treats the file as
# torn at that point — records already parsed are kept (the same
# truncation rule as a torn member).
_WARC_INFLATE_LIMIT = 1 << 30


def iter_warc_records(data: bytes):
    """Yield (headers_dict, payload_bytes) from plain OR gzipped WARC
    bytes (sniffed by magic). Gzip decompresses MEMBER-AT-A-TIME (the
    .warc.gz layout is one gzip member per record), parsing complete
    records out of a rolling buffer — peak memory is the raw file
    plus a few records, never the whole decompressed stream (a 1 GiB
    .warc.gz expands several-fold; holding it all per task is the
    memory mistake this avoids). The decompressor is fed bounded
    256 KiB memoryview slices, NOT the remaining file — slicing bytes
    per member (or letting zlib hand back ``unused_data`` for the
    whole tail) re-copies the tail once per member, which is
    quadratic in record count: measured 0.05 s / 0.20 s / 1.09 s for
    2k/4k/8k records before the fix, linear after. A record split
    across member boundaries (non-standard but legal) still parses:
    the buffer accumulates until the record completes."""
    import zlib

    if data[:2] != b"\x1f\x8b":
        yield from parse_warc_records(data)
        return
    mv = memoryview(data)
    pos = 0
    n = len(data)
    buf = b""
    torn = False
    while pos < n and not torn:
        d = zlib.decompressobj(wbits=31)
        parts = []
        inflated = len(buf)
        while not d.eof:
            if pos >= n:
                break
            feed = mv[pos : pos + _GZ_CHUNK]
            pos += len(feed)
            try:
                piece = d.decompress(feed)
            except zlib.error:
                torn = True  # torn member: keep what already parsed
                break
            parts.append(piece)
            inflated += len(piece)
            if inflated > _WARC_INFLATE_LIMIT:
                # decompression bomb: stop HERE, keep prior records
                torn = True
                break
        if d.eof:
            # the last feed may have crossed into the next member
            pos -= len(d.unused_data)
        elif pos >= n:
            torn = True  # data ended mid-member
        buf += b"".join(parts)
        consumed = 0
        for headers, payload, end in _records_with_end(buf):
            yield headers, payload
            consumed = end
        if consumed:
            buf = buf[consumed:]
    # leftover buf is an incomplete record: dropped (truncation rule)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """(path, record_id, warc_type, target_uri, warc_date,
    content_type, content) per WARC record under ``path`` — plain or
    per-record-gzip ``.warc.gz`` (sniffed by magic bytes, not
    extension)."""
    ensure_cjk_decode_confs(spark)
    raw = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
    )

    cols = [
        "path",
        "record_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_type",
        "content",
    ]

    def parse_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                # yield in bounded chunks so peak memory is the raw
                # blob plus ONE chunk of records — never the whole
                # decompressed file's payloads at once
                rows = []
                for headers, payload in iter_warc_records(bytes(blob)):
                    rows.append(
                        (
                            fpath,
                            headers.get("warc-record-id"),
                            headers.get("warc-type"),
                            headers.get("warc-target-uri"),
                            headers.get("warc-date"),
                            headers.get("content-type"),
                            payload,
                        )
                    )
                    if len(rows) >= 512:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(parse_batches, schema=WARC_SCHEMA)


# Windows-1252's 27 defined mappings in the 0x80-0x9F range — the ONLY
# bytes where cp1252 differs from ISO-8859-1 (and they carry exactly
# the characters real pages use: curly quotes, dashes, €, …).
# Undefined bytes (0x81 8D 8F 90 9D) stay as their C1 codepoints, the
# WHATWG rule.
_CP1252_EXTRAS = (
    (0x80, 0x20AC), (0x82, 0x201A), (0x83, 0x0192), (0x84, 0x201E),
    (0x85, 0x2026), (0x86, 0x2020), (0x87, 0x2021), (0x88, 0x02C6),
    (0x89, 0x2030), (0x8A, 0x0160), (0x8B, 0x2039), (0x8C, 0x0152),
    (0x8E, 0x017D), (0x91, 0x2018), (0x92, 0x2019), (0x93, 0x201C),
    (0x94, 0x201D), (0x95, 0x2022), (0x96, 0x2013), (0x97, 0x2014),
    (0x98, 0x02DC), (0x99, 0x2122), (0x9A, 0x0161), (0x9B, 0x203A),
    (0x9C, 0x0153), (0x9E, 0x017E), (0x9F, 0x0178),
)
_CP1252_FROM = "".join(chr(b) for b, _ in _CP1252_EXTRAS)
_CP1252_TO = "".join(chr(c) for _, c in _CP1252_EXTRAS)

# charset labels that decode via the cp1252 path. WHATWG maps the
# whole Latin-1/ASCII family TO windows-1252 (what every browser and
# crawler does — pages labeled iso-8859-1 are overwhelmingly cp1252
# in practice), so they all take it.
_CP1252_LABELS = (
    "windows-1252", "cp1252", "x-cp1252", "iso-8859-1", "iso8859-1",
    "iso_8859-1", "latin-1", "latin1", "l1", "us-ascii", "ascii",
    "ansi_x3.4-1968",
)


def _cp1252_decode(b: Column) -> Column:
    """Exact windows-1252 bytes→string: ISO-8859-1 decode (total,
    byte↔codepoint bijective) then translate the 27 divergent 0x80-9F
    codepoints — pure JVM, no UDF."""
    return F.translate(
        F.decode(b, "ISO-8859-1"), _CP1252_FROM, _CP1252_TO
    )


# WHATWG charset-label families → the JVM charset that implements the
# WHATWG decoder (r16 — the CJK coverage the cp1252 work left open:
# these pages are a large fraction of a global crawl and previously
# carried mojibake into the whole text ladder). Label sets follow the
# WHATWG Encoding Standard's label table: the Shift_JIS family decodes
# as windows-31j (the MS superset every browser uses), EUC-KR as
# windows-949 (same reason), the GB family as GBK. Honest divergence:
# Java's Big5 lacks the HKSCS extensions the WHATWG big5 index folds
# in — HKSCS-only codepoints in big5-labeled pages become U+FFFD.
# Decoding needs two session flags (set by warc_http_text):
# spark.sql.legacy.javaCharsets opens decode() to the full JVM charset
# set, spark.sql.legacy.codingErrorAction=true replaces malformed
# sequences with U+FFFD (the WHATWG rule) instead of failing the task
# — one mojibake page must never kill a corpus scan.
_JVM_CHARSET_FAMILIES = (
    (
        ("shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji",
         "csshiftjis", "windows-31j", "cp932", "ms932"),
        "windows-31j",
    ),
    (("euc-jp", "x-euc-jp", "cseucpkdfmtjapanese"), "EUC-JP"),
    (
        ("gbk", "gb2312", "gb_2312", "gb_2312-80", "chinese",
         "csgb2312", "csiso58gb231280", "iso-ir-58", "x-gbk"),
        "GBK",
    ),
    (("gb18030",), "GB18030"),
    (
        ("euc-kr", "korean", "csksc56011987", "ks_c_5601-1987",
         "ks_c_5601-1989", "ksc5601", "ksc_5601", "iso-ir-149",
         "cseuckr", "windows-949", "cp949"),
        "x-windows-949",
    ),
    # WHATWG's big5 index folds in the HKSCS extensions, so the plain
    # big5 label family routes through Java's Big5-HKSCS superset
    # decoder (r17 — previously plain Big5, which turned HKSCS-only
    # codepoints into U+FFFD; Big5-HKSCS decodes the common Big5 range
    # identically and adds the HKSCS planes, strictly closer to the
    # WHATWG index).
    (("big5", "cn-big5", "csbig5", "x-x-big5", "big5-hkscs"),
     "Big5-HKSCS"),
)

# The two runtime confs the JVM-charset decode path requires.
# javaCharsets opens decode() to the full JVM charset set (else the
# CJK names above fail analysis with Spark's INVALID_PARAMETER_VALUE.
# CHARSET — loud); codingErrorAction=true replaces malformed sequences
# with U+FFFD, the WHATWG rule (else one mojibake page fails the task
# with MALFORMED_CHARACTER_CODING — also loud). Both failure modes are
# errors, never silently different text. The softened error action is
# session-global: every decode() in the session gets U+FFFD-on-
# malformed while set. Within this library that is inert — all other
# decode() sites use ISO-8859-1, a total decoding with no malformed
# sequences — but sessions mixing in their own decode() calls should
# know (hence the name appearing in get_spark()'s conf block too).
_CJK_DECODE_CONFS = (
    ("spark.sql.legacy.javaCharsets", "true"),
    ("spark.sql.legacy.codingErrorAction", "true"),
)


def _charset_body_expr(body_bin: Column, charset: Column) -> Column:
    """The charset-label decode ladder (shared by warc_http_text and
    the unwrap face): cp1252 family exactly via translate, the WHATWG
    CJK families via the JVM decoders (requires the two session confs
    — see ensure_cjk_decode_confs), everything else the byte-faithful
    UTF-8 reinterpret. Pure JVM expressions."""
    body_decoded = F.when(
        charset.isin(*_CP1252_LABELS), _cp1252_decode(body_bin)
    )
    for labels, jvm_charset in _JVM_CHARSET_FAMILIES:
        body_decoded = body_decoded.when(
            charset.isin(*labels), F.decode(body_bin, jvm_charset)
        )
    return body_decoded.otherwise(body_bin.cast("string"))


def ensure_cjk_decode_confs(spark: SparkSession) -> None:
    """(Re-)assert the two runtime confs the CJK decode path needs.

    Called at every plan-build entry point (``read_warc``/``read_wet``/
    ``read_wat``/``warc_http_text``) rather than only once, so a session
    whose confs were reset between builds gets them re-pinned by the
    next build. A plan built BEFORE a reset and executed after still
    fails loudly Spark-side (see ``_CJK_DECODE_CONFS``) — re-run
    ``warc_http_text`` after any conf reset."""
    for k, v in _CJK_DECODE_CONFS:
        spark.conf.set(k, v)


def warc_http_text(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append ``http_status`` (int), ``http_content_type`` (string —
    the envelope's Content-Type header value, for text/html
    filtering), ``http_charset`` (string — the lowercased charset=
    parameter when present), and ``body`` (string) peeled from the
    HTTP envelope of response records: the status parses off the
    first line, the body starts after the first blank line — CRLFCRLF
    per the RFC, with LF-only (``\\n\\n``) and mixed (``\\n\\r\\n`` —
    LF-terminated header lines, CRLF blank line) fallbacks because
    real servers emit all three and dropping their bodies silently
    would be a coverage hole (r14 advice; the mixed form r15); the
    form whose body would start EARLIEST wins. A payload that starts with ``HTTP/``
    but has NO blank line in either form is a headers-only record:
    status parses, body is empty (headers never leak into body).
    Records whose payload is not an HTTP message get NULL
    status/content-type and the whole payload as body.

    Encoding: header offsets are found on an ISO-8859-1 peel (total,
    one char per byte — so char positions ARE byte positions), and the
    body is sliced from the BYTES then decoded per the envelope's
    charset: the windows-1252/Latin-1/ASCII family decodes exactly
    (``_cp1252_decode`` — the WHATWG label mapping); the CJK families
    (Shift_JIS/EUC-JP/GB*/EUC-KR/Big5 and their WHATWG label aliases,
    r16) decode through the JVM charset that implements the WHATWG
    decoder (``_JVM_CHARSET_FAMILIES``), malformed sequences replaced
    with U+FFFD; everything else, including absent/UTF-8/unsupported
    labels, is Spark's non-validating binary→string UTF-8 reinterpret,
    byte-faithful rather than U+FFFD-replacing. Pure JVM expressions —
    one projection, no UDF. Side effect: (re-)asserts the two legacy
    session flags the JVM-charset decode path needs (see
    ``ensure_cjk_decode_confs`` — they only WIDEN decode() label
    acceptance and soften malformed bytes to U+FFFD session-wide;
    nothing else in this library calls decode() on possibly-malformed
    input, and if a user resets them between build and execution the
    plan fails loudly Spark-side rather than decoding differently)."""
    spark = df.sparkSession
    ensure_cjk_decode_confs(spark)
    bin_c = F.col(content_col)
    peel = F.decode(bin_c, "ISO-8859-1")
    is_http = peel.startswith("HTTP/")
    # three blank-line forms: CRLFCRLF (the RFC), LFLF (LF-only
    # servers), and the MIXED LF+CRLF (LF-terminated header lines, a
    # CRLF blank line — review-caught: previously misread as
    # headers-only, silently dropping the body). The form whose BODY
    # would start earliest wins — unambiguous because a CRLFCRLF match
    # at p also matches the mixed form at p+1 with the same body
    # start p+4.
    crlf = F.instr(peel, "\r\n\r\n")
    mixed = F.instr(peel, "\n\r\n")
    lf = F.instr(peel, "\n\n")
    big = F.length(peel) + F.lit(5)
    crlf_end = F.when(crlf > 0, crlf + 4).otherwise(big)
    mixed_end = F.when(mixed > 0, mixed + 3).otherwise(big)
    lf_end = F.when(lf > 0, lf + 2).otherwise(big)
    body_pos = F.least(crlf_end, mixed_end, lf_end)
    sep = (
        F.when(body_pos >= big, F.lit(0))
        .when(crlf_end == body_pos, crlf)
        .when(mixed_end == body_pos, mixed)
        .otherwise(lf)
    )
    sep_len = body_pos - sep
    head = F.when(sep > 0, peel.substr(F.lit(1), sep - 1)).otherwise(
        peel
    )
    status = F.regexp_extract(peel, r"^HTTP/[0-9.]+ ([0-9]{3})", 1)
    ctype = F.regexp_extract(
        head, r"(?im)^content-type:[ \t]*([^\r\n]+)", 1
    )
    charset = F.lower(
        F.regexp_extract(
            ctype, "(?i)charset=[\"']?([A-Za-z0-9_.\\-]+)", 1
        )
    )
    body_bin = bin_c.substr(sep + sep_len, F.length(bin_c))
    body_decoded = _charset_body_expr(body_bin, charset)
    return df.select(
        "*",
        F.when(is_http & (status != ""), status.cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("http_status"),
        F.when(is_http & (ctype != ""), ctype)
        .otherwise(F.lit(None).cast("string"))
        .alias("http_content_type"),
        F.when(is_http & (charset != ""), charset)
        .otherwise(F.lit(None).cast("string"))
        .alias("http_charset"),
        F.when(is_http & (sep > 0), body_decoded)
        .when(is_http, F.lit(""))
        .otherwise(bin_c.cast("string"))
        .alias("body"),
    )


_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")


def _dechunk(body: bytes):
    """Decode an RFC 9112 chunked transfer coding: hex size line
    (chunk extensions after ';' ignored; STRICT hex digits only —
    ``int(x, 16)`` alone also accepts ``-6``/``0x10``/``1_0``, and a
    negative size previously looped this parser forever on one
    crafted record), chunk bytes, CRLF, repeated until the 0-size
    chunk, then trailer field lines (skipped) and the terminating
    blank CRLF (required — a body truncated exactly at the ``0``
    line is indistinguishable from a complete one otherwise). None
    for any malformed framing — loud absence beats mis-framed
    bytes."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            return None
        line = body[pos:nl].split(b";", 1)[0].strip()
        if not line or any(c not in _HEX_DIGITS for c in line):
            return None
        n = int(line, 16)
        pos = nl + 2
        if n == 0:
            # trailer section: zero or more field lines, then the
            # terminating blank CRLF
            while True:
                nl2 = body.find(b"\r\n", pos)
                if nl2 < 0:
                    return None
                if nl2 == pos:
                    return b"".join(out)
                pos = nl2 + 2
        chunk = body[pos : pos + n]
        if len(chunk) < n:
            return None
        out.append(chunk)
        pos += n
        if body[pos : pos + 2] != b"\r\n":
            return None
        pos += 2


# Inflate budget for one HTTP body (the zTXt/PDF discipline): a
# crawled page should never expand an executor past this, and a
# stream that wants more is refused, not truncated.
_BODY_INFLATE_LIMIT = 64 << 20


def _inflate_body(body: bytes, encoding: str):
    """Decompress one Content-Encoding token: gzip/x-gzip (wbits 31,
    MULTI-MEMBER per RFC 1952 — concatenated members are legal and
    real servers/--rsyncable gzip emit them; returning only the first
    member would silently drop the rest of the page) or deflate
    (RFC 9110 'deflate' is zlib-wrapped, but real servers also ship
    raw DEFLATE — try both, the browser rule). Budgeted via
    decompressobj max_length across ALL members; over-limit,
    truncated, or trailing-garbage streams return None (trailing
    bytes land in ``unused_data`` after eof, which a plain
    ``unconsumed_tail`` check never sees)."""
    import zlib

    if encoding in ("gzip", "x-gzip"):
        out = []
        total = 0
        rest = body
        while rest:
            try:
                dec = zlib.decompressobj(31)
                piece = dec.decompress(
                    rest, _BODY_INFLATE_LIMIT + 1 - total
                )
            except zlib.error:
                return None
            total += len(piece)
            if total > _BODY_INFLATE_LIMIT or not dec.eof:
                return None
            out.append(piece)
            rest = dec.unused_data
        return b"".join(out) if out else None
    for wbits in (15, -15):
        try:
            dec = zlib.decompressobj(wbits)
            out = dec.decompress(body, _BODY_INFLATE_LIMIT + 1)
            if (
                len(out) <= _BODY_INFLATE_LIMIT
                and dec.eof
                and not dec.unconsumed_tail
                and not dec.unused_data
            ):
                return out
        except zlib.error:
            continue
    return None


_HTTP_SEPS = (b"\r\n\r\n", b"\n\r\n", b"\n\n")


def _http_unwrap_payload(payload: bytes):
    """(status, content_type, charset, content_encoding,
    transfer_encoding, body_bytes) for one HTTP response payload —
    the Python twin of warc_http_text's header rules (three blank-line
    forms, earliest body start wins; headers-only → empty body) PLUS
    the wire decodings the JVM path can't express: Transfer-Encoding:
    chunked de-framing, then Content-Encoding gzip/deflate inflate
    (identity passes through). An encoded body that fails its decode
    yields body None with the labels intact — loud absence, never
    mis-framed or mojibake bytes. None (all fields) when the payload
    is not an HTTP message."""
    import re as _re

    if not payload.startswith(b"HTTP/"):
        return None
    best = None
    for sep in _HTTP_SEPS:
        p = payload.find(sep)
        if p >= 0:
            start = p + len(sep)
            if best is None or start < best[0]:
                best = (start, p)
    if best is None:
        head, body = payload, b""
    else:
        head, body = payload[: best[1]], payload[best[0] :]
    peel = head.decode("iso-8859-1")
    m = _re.match(r"HTTP/[0-9.]+ ([0-9]{3})", peel)
    status = int(m.group(1)) if m else None

    def header(name: str):
        hm = _re.search(
            rf"(?im)^{name}:[ \t]*([^\r\n]+)", peel
        )
        return hm.group(1).strip() if hm else None

    ctype = header("content-type")
    charset = None
    if ctype:
        cm = _re.search(
            "(?i)charset=[\"']?([A-Za-z0-9_.\\-]+)", ctype
        )
        charset = cm.group(1).lower() if cm else None
    cenc = header("content-encoding")
    cenc = cenc.lower().strip() if cenc else None
    tenc = header("transfer-encoding")
    tenc = tenc.lower().strip() if tenc else None
    if tenc == "chunked":
        body = _dechunk(body)
    elif tenc not in (None, "identity"):
        # identity means "no transformation" (RFC 2616-era responses
        # carry it explicitly); anything else is un-decodable framing
        body = None
    if body is not None and cenc not in (None, "identity"):
        if cenc in ("gzip", "x-gzip", "deflate"):
            body = _inflate_body(body, cenc)
        else:  # br/zstd/multi-token: refused, label preserved
            body = None
    return (status, ctype, charset, cenc, tenc, body)


def warc_http_unwrap(df: DataFrame, content_col: str = "content") -> DataFrame:
    """The WIRE-DECODING envelope peel (r17): real crawls store bodies
    as sent — Transfer-Encoding: chunked framing and Content-Encoding:
    gzip/deflate compression — which the pure-JVM ``warc_http_text``
    cannot express (Spark has no per-row gunzip expression). This
    Arrow face (scan-stage mapInPandas, linear in bytes, inflate
    budgeted) appends ``http_status`` / ``http_content_type`` /
    ``http_charset`` / ``http_content_encoding`` /
    ``http_transfer_encoding`` and the DECODED ``body`` as binary;
    failed decodes are NULL bodies with labels intact. Pipe through
    :func:`unwrapped_body_text` for the charset-ladder text column.
    Use ``warc_http_text`` when the crawl is known identity-encoded
    (zero Python in the plan); use this face when it is not.

    The six appended names are FIXED; applying this to a frame that
    already carries one (e.g. the output of ``warc_http_text`` or a
    second unwrap pass) would build a duplicate-name schema that only
    fails later at analysis — r18 (ADVICE): refuse up front with a
    named ValueError instead."""
    appended = (
        "http_status", "http_content_type", "http_charset",
        "http_content_encoding", "http_transfer_encoding", "body",
    )
    clashes = [f.name for f in df.schema if f.name in appended]
    if clashes:
        raise ValueError(
            "warc_http_unwrap appends fixed columns "
            f"{sorted(appended)}; input already has {clashes}. "
            "Drop or rename them first (it decodes the RAW record "
            "content, not an already-unwrapped frame)."
        )
    in_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    )
    out_schema = (
        f"{in_fields}, http_status int, http_content_type string, "
        "http_charset string, http_content_encoding string, "
        "http_transfer_encoding string, body binary"
    )
    names = [f.name for f in df.schema]

    def unwrap_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                got = (
                    _http_unwrap_payload(bytes(b))
                    if b is not None
                    else None
                )
                if got is None:
                    # not an HTTP message: whole payload is the body
                    rows.append(
                        (None, None, None, None, None,
                         None if b is None else bytes(b))
                    )
                else:
                    rows.append(got)
            cols = list(zip(*rows)) if rows else [[]] * 6
            out = pdf[names].copy()
            for i, name in enumerate(
                ("http_status", "http_content_type", "http_charset",
                 "http_content_encoding", "http_transfer_encoding",
                 "body")
            ):
                out[name] = list(cols[i])
            yield out

    ensure_cjk_decode_confs(df.sparkSession)
    return df.mapInPandas(unwrap_batches, schema=out_schema)


def http_encoding_counts(df: DataFrame) -> DataFrame:
    """Per-(content_encoding, transfer_encoding, decoded) counts over
    :func:`warc_http_unwrap` output — the ``decode_tier_counts``
    analogue for the HTTP wire (r18): the measurement that decides
    whether an unsupported coding is worth a decoder. The immediate
    customer is the brotli go/no-go — ``br`` bodies come back NULL
    with the label intact, so its row reads (br, ..., decoded=false)
    and its share is the fraction a pure-Python brotli inflate would
    recover (measured share recorded in SCALING.md r18). Absent
    labels read 'identity'/'none'; ``decoded`` is body IS NOT NULL.
    One bounded-key shuffle (≤ a few dozen label pairs) with
    map-side partial counts — the cheapest possible telemetry at
    100 TB."""
    return df.groupBy(
        F.coalesce(
            F.col("http_content_encoding"), F.lit("identity")
        ).alias("content_encoding"),
        F.coalesce(
            F.col("http_transfer_encoding"), F.lit("none")
        ).alias("transfer_encoding"),
        F.col("body").isNotNull().alias("decoded"),
    ).agg(F.count("*").alias("n"))


def unwrapped_body_text(df: DataFrame) -> DataFrame:
    """Append ``text`` — the charset-ladder decode of the unwrapped
    binary ``body`` (same JVM ladder as warc_http_text: cp1252 family
    exact, WHATWG CJK families, byte-faithful UTF-8 reinterpret
    otherwise); NULL body stays NULL text. This is the function that
    actually puts the JVM-charset decode() expressions into the plan,
    so it re-asserts the two legacy confs like every other plan-build
    entry point."""
    ensure_cjk_decode_confs(df.sparkSession)
    charset = F.coalesce(F.col("http_charset"), F.lit(""))
    return df.withColumn(
        "text",
        F.when(
            F.col("body").isNotNull(),
            _charset_body_expr(F.col("body"), charset),
        ),
    )


def _warc_record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    """One spec-shaped WARC record: version line, CRLF headers,
    byte-exact Content-Length, payload, the two-CRLF terminator.
    Shared by every writer face."""
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode("latin-1") for k, v in headers
    )
    return (
        head
        + f"Content-Length: {len(payload)}\r\n\r\n".encode()
        + payload
        + b"\r\n\r\n"
    )


def _write_members(records: list[bytes], path: str, gzip_members: bool) -> None:
    import gzip as _gzip

    with open(path, "wb") as fh:
        for rec in records:
            fh.write(_gzip.compress(rec) if gzip_members else rec)


def _warcinfo_record(date: str, rid: str) -> bytes:
    return _warc_record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Date", date),
            ("WARC-Record-ID", rid),
            ("Content-Type", "application/warc-fields"),
        ],
        b"software: lotad_spark\r\n",
    )


def read_wat(spark, path: str) -> DataFrame:
    """WAT (WARC metadata) files → (target_uri, warc_date, meta_json):
    the Common Crawl per-response metadata sidecar — ``WARC-Type:
    metadata`` records whose payload is one JSON document (headers,
    detected MIME, extracted link graph, …). Same framing parse as
    :func:`read_warc`; the payload reinterprets byte-faithfully as
    UTF-8 (WAT is UTF-8 JSON by construction). Downstream operators
    parse fields JVM-side with ``from_json`` — see
    :func:`wat_links`."""
    recs = read_warc(spark, path).filter(
        F.col("warc_type") == "metadata"
    )
    return recs.select(
        "target_uri",
        "warc_date",
        F.col("content").cast("string").alias("meta_json"),
    )


# The WAT link-graph slice of Common Crawl's envelope layout — enough
# schema for from_json to reach Links without a UDF; unknown siblings
# are ignored by from_json's permissive mode.
_WAT_LINKS_SCHEMA = (
    "STRUCT<Envelope: STRUCT<`Payload-Metadata`: STRUCT<"
    "`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: STRUCT<"
    "Links: ARRAY<STRUCT<path: STRING, url: STRING>>>>>>>"
)


def wat_links(df: DataFrame, json_col: str = "meta_json") -> DataFrame:
    """(target_uri, url, path) per link from parsed WAT metadata —
    the crawl graph WITHOUT re-reading or re-parsing the page bodies
    (the point of WAT: the graph at ~1/10 the bytes of WARC).
    ``from_json`` with an explicit schema keeps parsing JVM-side; a
    record whose JSON is malformed or linkless contributes no rows."""
    parsed = F.from_json(F.col(json_col), _WAT_LINKS_SCHEMA)
    links = parsed["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"
    ]["HTML-Metadata"]["Links"]
    return df.select(
        "target_uri", F.explode(links).alias("l")
    ).select("target_uri", "l.url", "l.path")


def write_wat_file(
    records: Iterable[tuple],
    path: str,
    *,
    gzip_members: bool = False,
    date: str = "2024-01-01T00:00:00Z",
) -> None:
    """Write (uri, meta_json_str) tuples as a spec-shaped WAT file:
    one warcinfo record then one ``metadata`` record per tuple."""
    out = [_warcinfo_record(date, "<urn:uuid:watinfo-0>")]
    for i, (uri, meta) in enumerate(records):
        out.append(
            _warc_record(
                [
                    ("WARC-Type", "metadata"),
                    ("WARC-Target-URI", uri),
                    ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:wat-{i}>"),
                    ("Content-Type", "application/json"),
                ],
                meta.encode("utf-8"),
            )
        )
    _write_members(out, path, gzip_members)


def read_wet(spark, path: str) -> DataFrame:
    """WET (WARC conversion) files → (target_uri, warc_date, text,
    n_bytes): the Common Crawl pre-extracted-text sidecar — the most
    common raw input of an LLM text pipeline. WET records are
    ``WARC-Type: conversion`` with a plain UTF-8 text payload and NO
    HTTP envelope, so this is :func:`read_warc` (same per-FILE
    parallel framing parse, plain and per-record-gzip layouts) + a
    type filter + a byte-faithful UTF-8 reinterpret — one JVM
    projection after the scan; warcinfo/request/response records in
    mixed archives drop by type."""
    recs = read_warc(spark, path).filter(
        F.col("warc_type") == "conversion"
    )
    return recs.select(
        "target_uri",
        "warc_date",
        F.col("content").cast("string").alias("text"),
        F.octet_length("content").cast("int").alias("n_bytes"),
    )


def write_wet_file(
    records: Iterable[tuple],
    path: str,
    *,
    gzip_members: bool = False,
    date: str = "2024-01-01T00:00:00Z",
) -> None:
    """Write (uri, text) tuples as a spec-shaped WET file: one
    warcinfo record then one ``conversion`` record per tuple, payload
    the UTF-8 text with no HTTP envelope (the Common Crawl WET
    layout). Test/oracle synthesis face and the export path of the
    extraction chain."""
    out = [_warcinfo_record(date, "<urn:uuid:wetinfo-0>")]
    for i, (uri, text) in enumerate(records):
        out.append(
            _warc_record(
                [
                    ("WARC-Type", "conversion"),
                    ("WARC-Target-URI", uri),
                    ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:wet-{i}>"),
                    ("Content-Type", "text/plain"),
                ],
                text.encode("utf-8"),
            )
        )
    _write_members(out, path, gzip_members)


def write_warc_file(
    records: Iterable[tuple],
    path: str,
    *,
    gzip_members: bool = False,
    date: str = "2024-01-01T00:00:00Z",
) -> None:
    """Write (uri, content_type_of_payload, payload_bytes[,
    http_line_ending]) tuples as a spec-shaped WARC file — one
    warcinfo record, then one response record per tuple wrapping the
    payload in a minimal HTTP/1.1 envelope. The optional 4th element
    sets the INNER HTTP envelope's line ending (default CRLF; pass
    ``"\\n"`` to synthesize the LF-only servers warc_http_text's
    fallback handles — WARC record headers stay CRLF per spec either
    way). Mainly the test/oracle synthesis face; also the export
    path for small curated sets. ``gzip_members=True`` writes the
    standard per-record-gzip ``.warc.gz`` layout."""
    import gzip as _gzip

    def record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers
        )
        return (
            head
            + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload
            + b"\r\n\r\n"
        )

    out = []
    info = b"software: lotad_spark\r\n"
    out.append(
        record(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Date", date),
                ("WARC-Record-ID", "<urn:uuid:info-0>"),
                ("Content-Type", "application/warc-fields"),
            ],
            info,
        )
    )
    for i, rec in enumerate(records):
        uri, ctype, payload = rec[0], rec[1], rec[2]
        nl = rec[3] if len(rec) > 3 else "\r\n"
        # optional 5th element: the BLANK-LINE terminator, for
        # synthesizing mixed envelopes (LF header lines, CRLF blank);
        # optional 6th: extra HTTP header (name, value) pairs (r17 —
        # Content-Encoding / Transfer-Encoding fixtures)
        blank = rec[4] if len(rec) > 4 else nl
        extras = rec[5] if len(rec) > 5 else ()
        extra_str = "".join(f"{k}: {v}{nl}" for k, v in extras)
        http = (
            f"HTTP/1.1 200 OK{nl}Content-Type: {ctype}{nl}"
            f"{extra_str}{blank}".encode()
            + payload
        )
        out.append(
            record(
                [
                    ("WARC-Type", "response"),
                    ("WARC-Target-URI", uri),
                    ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:rec-{i}>"),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    blob = (
        b"".join(_gzip.compress(r) for r in out)
        if gzip_members
        else b"".join(out)
    )
    with open(path, "wb") as fh:
        fh.write(blob)
