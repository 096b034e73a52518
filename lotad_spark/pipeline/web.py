"""HTML → training text: the extraction pass a web corpus runs before
every text operator in this package (quality, dedup, lang-id, packing
all assume PLAIN text — raw crawl HTML would score markup, not prose).

Spark-first shape: the whole extraction is ONE chain of JVM
``regexp_replace`` / ``replace`` expressions — a single projection, no
UDF, no shuffle, linear in bytes — so Catalyst fuses it into the scan
stage like the rest of `pipeline/text.py`. Link extraction
(``extract_links``) feeds the existing URL ladder (canonicalize →
dedup → domain stats) the same way.

Every pattern is written to the COMMON subset of Java regex (Spark)
and RE2 (the DuckDB oracle): no backreferences (RE2 has none — script
and style get separate patterns instead of ``</\\1>``), no ``\\s``
(Java's includes U+000B, RE2's doesn't — explicit ``[ \\t\\r\\f]``
classes instead), inline ``(?is)`` flags only (supported by both).
That is what makes the extraction value-checkable: the oracle replays
the identical chain on the identical synthesized HTML.

Honest limits (documented, not hidden): this is a TAG-STRIPPER with
entity decoding, the WET-extraction shape — not a DOM parser. An
attribute value containing a literal ``>`` ends its tag early; ALL
numeric entities (``&#NNN;`` decimal to 7 digits, ``&#xHH;`` hex to 6
— both bounds exceed U+10FFFF) plus the full HTML4 named table (253
names, r16) decode in a true single pass (``decode_entities_expr`` —
split on one regex, decode, re-interleave); the HTML5-only name tail
stays literal. CDATA and conditional comments are treated as
plain comments. Real-world boilerplate removal composes DOWNSTREAM of
this pass via the existing line-level ops (``duplicate_lines`` /
``strip_duplicate_lines`` — the CCNet shape) and ``gopher_rules``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tags whose boundaries imply a line break in the rendered text.
BLOCK_TAGS = (
    "p|div|br|li|tr|td|th|h1|h2|h3|h4|h5|h6|ul|ol|table|thead|tbody|"
    "section|article|header|footer|blockquote|pre|hr|dt|dd|form"
)

# (pattern, replacement) chain — ORDER IS LOAD-BEARING: invisible
# containers drop with their content first, then block boundaries
# become newlines, then remaining tags drop, then entities decode
# (single-pass, decode_entities_expr), then whitespace folds.
HTML_TEXT_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script[ \t]*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style[ \t]*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)</?(" + BLOCK_TAGS + r")\b[^>]*>", "\n"),
    (r"(?s)<[^>]*>", " "),
)

# Named entities and their decodes (r16: the full HTML4 252-name set
# — complete Latin-1, Greek, arrows, math operators, punctuation —
# generated from the stdlib ``html.entities`` table rather than
# hand-typed so no codepoint can be mistyped; values take the
# HTML5/WHATWG decode where the two specs differ, which is exactly
# ``lang``/``rang`` — U+27E8/U+27E9 angle brackets, not the deprecated
# U+2329/U+232A — plus ``apos``, an XML name HTML4 omits but real
# pages use constantly). Names stay case-sensitive as the spec
# defines them; only ';'-terminated forms decode (the bare-name
# legacy forms are ambiguous and stay literal, documented). Numeric
# forms (&#NNN; / &#xHH;) decode GENERALLY via the codepoint
# arithmetic in ``decode_entities_expr`` — no per-codepoint table.
# The HTML5-only long tail (~1,980 more names, mostly math-alias
# exotica) stays literal: each name would widen the single-pass regex
# every engine replays, for entities that effectively never occur in
# crawled pages.
def _build_named_entities() -> tuple[tuple[str, str], ...]:
    import html.entities as _he

    table = {
        name: _he.html5.get(name + ";", ch)
        for name, ch in _he.entitydefs.items()
    }
    table["apos"] = "'"
    return tuple(sorted(table.items()))


HTML_NAMED_ENTITIES: tuple[tuple[str, str], ...] = _build_named_entities()

# One regex matches EVERY entity-shaped token — numeric (decimal
# bounded to 7 digits, hex to 6: both bounds exceed U+10FFFF, so
# anything longer is malformed and stays literal) and a GENERIC name
# form (r16: `[a-zA-Z][a-zA-Z0-9]{1,31}` instead of a 253-branch
# alternation — the per-`&` match cost is the name length, not the
# table size; the r16 table growth made the alternation measurably
# hot in html_extract). Group 1 is the entity payload without
# '&'/';'. Whether a NAME decodes is decided by the table lookup in
# ``_entity_char``: unknown names reconstruct to their literal
# '&name;' — byte-identical to never having matched. A single pattern
# is what makes the decode SINGLE-PASS: text an entity produces can
# never re-trigger a later decode step (the r14 literal-replace chain
# ordered '&amp;' last for the same reason, but could not extend to
# numeric forms without a poisoning direction).
HTML_ENTITY_RE = (
    "&(#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6}|[a-zA-Z][a-zA-Z0-9]{1,31});"
)

# Whitespace folding: spaces/tabs collapse, newline islands collapse,
# outer whitespace trims. U+00A0 (from &nbsp;/&#160; or raw in the
# page) folds WITH plain spaces — training text wants one space form.
# The NBSP is embedded as a LITERAL character: Java's \\uHHHH, RE2's
# \\x{HH}, and Python's \\uHHHH escapes have no common subset, but a
# raw UTF-8 char in a class means the same thing to all three engines.
_NBSP = "\u00a0"
HTML_SPACE_STEPS: tuple[tuple[str, str], ...] = (
    (r"[ \t\r\f" + _NBSP + r"]+", " "),
    (r"[ \t\r\f" + _NBSP + r"]*\n[ \t\r\f\n" + _NBSP + r"]*", "\n"),
    (r"^[ \t\r\f\n" + _NBSP + r"]+", ""),
    (r"[ \t\r\f\n" + _NBSP + r"]+$", ""),
)

# href/src values — double-quoted, single-quoted, and unquoted forms
# as THREE patterns (group 1 is the URL in each): matched-quote
# pairing needs a backreference, which RE2 (the oracle engine) does
# not have, and a mixed ["']…["'] class would let an apostrophe
# truncate a double-quoted URL (r14 review finding).
LINK_PATTERNS: tuple[str, ...] = (
    '(?i)(?:href|src)[ \\t]*=[ \\t]*"([^"]*)"',
    "(?i)(?:href|src)[ \\t]*=[ \\t]*'([^']*)'",
    "(?i)(?:href|src)[ \\t]*=[ \\t]*([^\"' \\t\\r\\n>][^ \\t\\r\\n>]*)",
)


def _codepoint_char(c: Column) -> Column:
    """Codepoint (long) → that character as a string, via arithmetic
    UTF-8 byte construction (hex digits → ``unhex`` → ``decode``) —
    pure JVM built-ins, stays inside whole-stage codegen (no reflect,
    no UDF). Spark's own ``char()`` is mod-256 ASCII, useless beyond
    Latin-1; this handles the full plane set. Invalid codepoints
    (0, surrogates, > U+10FFFF) yield U+FFFD, the WHATWG rule. The
    DuckDB oracle replays this with its native ``chr()`` — a genuinely
    independent implementation of the same spec."""
    valid = (
        (c >= 1) & (c <= 0x10FFFF) & ((c < 0xD800) | (c > 0xDFFF))
    )
    cp = F.when(valid, c).otherwise(F.lit(0xFFFD))

    def hx(x: Column) -> Column:
        return F.lpad(F.hex(x), 2, "0")

    def cont(shift: int) -> Column:
        sh = F.shiftright(cp, shift) if shift else cp
        return hx(sh.bitwiseAND(F.lit(0x3F)) + F.lit(0x80))

    hexstr = (
        F.when(cp < 0x80, hx(cp))
        .when(
            cp < 0x800,
            F.concat(hx(F.shiftright(cp, 6) + F.lit(0xC0)), cont(0)),
        )
        .when(
            cp < 0x10000,
            F.concat(
                hx(F.shiftright(cp, 12) + F.lit(0xE0)),
                cont(6),
                cont(0),
            ),
        )
        .otherwise(
            F.concat(
                hx(F.shiftright(cp, 18) + F.lit(0xF0)),
                cont(12),
                cont(6),
                cont(0),
            )
        )
    )
    return F.decode(F.unhex(hexstr), "UTF-8")


def _entity_char(e: Column) -> Column:
    """Entity payload (group 1 of HTML_ENTITY_RE, no '&'/';') → its
    decoded character(s)."""
    code = F.when(
        F.substring(e, 2, 1).isin("x", "X"),
        F.conv(F.substring(e, 3, 6), 16, 10).cast("long"),
    ).otherwise(F.substring(e, 2, 7).cast("long"))
    # named lookup through ONE literal-map GetMapValue instead of a
    # 252-branch CaseWhen (r16 — the when-chain form blew past
    # codegen-friendly expression size once the full HTML4 table
    # landed); the fallback arm is unreachable (the regex only matches
    # the map's keys) but keeps the expression total
    named = F.create_map(
        *[
            lit
            for name, ch in HTML_NAMED_ENTITIES
            for lit in (F.lit(name), F.lit(ch))
        ]
    )
    return F.when(e.startswith("#"), _codepoint_char(code)).otherwise(
        F.coalesce(
            F.element_at(named, e),
            F.concat(F.lit("&"), e, F.lit(";")),
        )
    )


def decode_entities_expr(text: Column) -> Column:
    """Single-pass HTML entity decode as one JVM expression: split the
    text on HTML_ENTITY_RE (trailing empties KEPT — Spark's split
    limit defaults to -1, pinned in tests), decode each matched entity
    with :func:`_entity_char`, and re-interleave. Characters an entity
    produces can never re-trigger a decode — the spec's single-pass
    rule, by construction rather than by replace-ordering."""
    segs = F.split(text, HTML_ENTITY_RE)
    ents = F.regexp_extract_all(text, F.lit(HTML_ENTITY_RE), 1)
    n = F.size(ents)
    return F.when(n <= 0, text).otherwise(
        F.concat(
            F.array_join(
                F.zip_with(
                    F.slice(segs, 1, n),
                    F.transform(ents, _entity_char),
                    lambda s, ch: F.concat(s, ch),
                ),
                "",
            ),
            F.element_at(segs, -1),
        )
    )


def decode_entities(text: str) -> str:
    """Python reference of :func:`decode_entities_expr` (the pytest
    third engine): same regex, same codepoint validity rule, same
    named table."""
    import re as _re

    named = dict(HTML_NAMED_ENTITIES)

    def dec(m: "_re.Match[str]") -> str:
        e = m.group(1)
        if not e.startswith("#"):
            # unknown names reconstruct literally (the generic name
            # pattern matches more than the table decodes)
            return named.get(e, m.group(0))
        c = (
            int(e[2:], 16)
            if e[1] in ("x", "X")
            else int(e[1:], 10)
        )
        if c < 1 or c > 0x10FFFF or 0xD800 <= c <= 0xDFFF:
            c = 0xFFFD
        return chr(c)

    return _re.sub(HTML_ENTITY_RE, dec, text)


def html_text_expr(col: Column | str) -> Column:
    """The full HTML→text chain as one JVM expression (see module
    docstring for the exact steps and their dialect constraints)."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, rep in HTML_TEXT_STEPS:
        out = F.regexp_replace(out, pat, rep)
    out = decode_entities_expr(out)
    for pat, rep in HTML_SPACE_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def html_to_text(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
    out_col: str = "text",
) -> DataFrame:
    """(id, text) extracted from raw HTML — one projection, fused into
    the scan; NULL html stays NULL (auditable, never silently
    empty)."""
    return df.select(
        F.col(id_col),
        html_text_expr(F.col(html_col)).alias(out_col),
    )


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, link) per href/src occurrence — the inlet of the URL
    ladder (``canonicalize_urls`` → ``url_dedup`` → ``domain_stats``).
    Rows group by quoting style (double-quoted, then single-quoted,
    then unquoted), document order within each. One projection +
    explode, no shuffle; documents without links contribute no
    rows (count them upstream if the fraction matters)."""
    arrays = [
        F.regexp_extract_all(F.col(html_col), F.lit(p), 1)
        for p in LINK_PATTERNS
    ]
    return df.select(
        F.col(id_col),
        F.explode(F.concat(*arrays)).alias("link"),
    )


# Head metadata patterns (r16) — one regexp_extract each, all in the
# common Java-regex/RE2 subset. Values extract RAW (no entity decode):
# lang/charset are label tokens; decode title/description downstream
# with decode_entities_expr when the pipeline wants display text.
HTML_META_PATTERNS: tuple[tuple[str, str], ...] = (
    ("title", "(?is)<title[^>]*>(.*?)</title"),
    ("lang", "(?is)<html[^>]*[ \\t]lang[ \\t]*=[ \\t]*[\"']?([A-Za-z0-9-]+)"),
    ("charset", "(?is)<meta[^>]*charset[ \\t]*=[ \\t]*[\"']?([A-Za-z0-9_.-]+)"),
    # description: double-quoted then single-quoted content value
    # (matched-quote pairing needs a backreference RE2 lacks — same
    # two-pattern rule as LINK_PATTERNS)
    (
        "description",
        "(?is)<meta[^>]*name[ \\t]*=[ \\t]*[\"']?description[\"']?"
        "[^>]*content[ \\t]*=[ \\t]*\"([^\"]*)\"",
    ),
    (
        "description_sq",
        "(?is)<meta[^>]*name[ \\t]*=[ \\t]*[\"']?description[\"']?"
        "[^>]*content[ \\t]*=[ \\t]*'([^']*)'",
    ),
    # rel=canonical (r17): the canonical URL feeds url_dedup directly —
    # the crawl-dedup join real pipelines run first. Four patterns:
    # rel-before-href and href-before-rel, each in both quote styles
    # (same no-backreference rule as description). r18: the keyword
    # must be FOLLOWED by a terminating delimiter — a closing quote,
    # whitespace (a rel token list: rel="canonical alternate"), or for
    # the href-first forms tag-end '>'/'/' — so rel values that merely
    # START with 'canonical' (rel="canonical-amp") no longer feed a
    # wrong group key into canonical_url_dedup.
    (
        "canonical",
        "(?is)<link[^>]*rel[ \\t]*=[ \\t]*[\"']?canonical[\"' \\t\\n\\r]"
        "[^>]*href[ \\t]*=[ \\t]*\"([^\"]*)\"",
    ),
    (
        "canonical_sq",
        "(?is)<link[^>]*rel[ \\t]*=[ \\t]*[\"']?canonical[\"' \\t\\n\\r]"
        "[^>]*href[ \\t]*=[ \\t]*'([^']*)'",
    ),
    (
        "canonical_hf",
        "(?is)<link[^>]*href[ \\t]*=[ \\t]*\"([^\"]*)\""
        "[^>]*rel[ \\t]*=[ \\t]*[\"']?canonical[\"' \\t\\n\\r>/]",
    ),
    (
        "canonical_hf_sq",
        "(?is)<link[^>]*href[ \\t]*=[ \\t]*'([^']*)'"
        "[^>]*rel[ \\t]*=[ \\t]*[\"']?canonical[\"' \\t\\n\\r>/]",
    ),
)


def html_meta(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, title, lang, charset, description, canonical) per page —
    the head metadata a curation pipeline filters and stratifies on
    (declared language before n-gram lang-id, charset cross-checks
    against the HTTP envelope, title/description for dedup and quality
    signals, rel=canonical feeding url_dedup — the crawl-dedup join
    real pipelines run first). Absent fields are NULL (``nullif`` of
    the engines' empty-match convention). One JVM projection, zero
    UDFs, zero exchanges."""
    pats = dict(HTML_META_PATTERNS)
    h = F.col(html_col)

    def ex(pat: str) -> Column:
        return F.nullif(F.regexp_extract(h, pat, 1), F.lit(""))

    return df.select(
        F.col(id_col),
        ex(pats["title"]).alias("title"),
        ex(pats["lang"]).alias("lang"),
        ex(pats["charset"]).alias("charset"),
        F.coalesce(
            ex(pats["description"]), ex(pats["description_sq"])
        ).alias("description"),
        F.coalesce(
            ex(pats["canonical"]),
            ex(pats["canonical_sq"]),
            ex(pats["canonical_hf"]),
            ex(pats["canonical_hf_sq"]),
        ).alias("canonical"),
    )


# Anchor pairs: href value AND the anchor's inner text captured from
# the same match — two regexp_extract_all calls per quoting style
# (each engine extracts ONE group per call), zipped positionally.
HTML_ANCHOR_PATTERNS: tuple[str, ...] = (
    "(?is)<a[^>]*[ \\t]href[ \\t]*=[ \\t]*\"([^\"]*)\"[^>]*>(.*?)</a",
    "(?is)<a[^>]*[ \\t]href[ \\t]*=[ \\t]*'([^']*)'[^>]*>(.*?)</a",
)


def html_anchors(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, href, anchor_text) per link — the labeled edge list a
    crawl graph wants (anchor text is a classic relevance/quality
    signal for the TARGET page). Inner text extracts raw markup
    between the tags; strip tags / decode entities downstream when
    building text features. Rows group by quoting style then document
    order — one projection + explode, no shuffle."""
    h = F.col(html_col)
    zipped = [
        F.arrays_zip(
            F.regexp_extract_all(h, F.lit(p), 1).alias("href"),
            F.regexp_extract_all(h, F.lit(p), 2).alias("anchor_text"),
        )
        for p in HTML_ANCHOR_PATTERNS
    ]
    pair = F.explode(F.concat(*zipped)).alias("pair")
    return df.select(F.col(id_col), pair).select(
        id_col, "pair.href", "pair.anchor_text"
    )


# Table extraction (r16): three nested lazy patterns in the common
# Java-regex/RE2 subset. FLAT tables only — a nested <table> truncates
# the outer match at the inner </table> (lazy .*?), the documented
# honest limit; real data tables are overwhelmingly flat.
HTML_TABLE_RE = "(?is)<table[^>]*>(.*?)</table[ \\t]*>"
HTML_TR_RE = "(?is)<tr[^>]*>(.*?)</tr[ \\t]*>"
HTML_CELL_RE = "(?is)<t[dh][^>]*>(.*?)</t[dh][ \\t]*>"
# cells join on the unit separator — a character that cannot survive
# the HTML parse into a cell (it is not markup-significant but the
# fixture never emits it, and real text uses it never-to-rarely)
HTML_CELL_SEP = "\x1f"


def html_tables(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, table_idx, row_idx, n_cells, cells) per table row — the
    structured-extraction grain table-QA / table-to-text training
    data needs. Cell contents are RAW inner markup (like
    html_anchors); run the text chain downstream for display text.
    ``cells`` is the unit-separator join of the row's <td>/<th>
    texts (header and data cells extract alike — a TH-only first row
    IS the header row by position). Three nested regexp_extract_all
    levels + two posexplodes, all JVM — zero UDFs, zero exchanges;
    nested tables truncate at the inner close (documented flat-table
    contract)."""
    h = F.col(html_col)
    nested = F.transform(
        F.regexp_extract_all(h, F.lit(HTML_TABLE_RE), 1),
        lambda t: F.transform(
            F.regexp_extract_all(t, F.lit(HTML_TR_RE), 1),
            lambda r: F.regexp_extract_all(r, F.lit(HTML_CELL_RE), 1),
        ),
    )
    by_table = df.select(
        F.col(id_col), F.posexplode(nested).alias("table_idx", "_rows")
    )
    by_row = by_table.select(
        id_col,
        F.col("table_idx").cast("int"),
        F.posexplode("_rows").alias("row_idx", "_cells"),
    )
    return by_row.select(
        id_col,
        "table_idx",
        F.col("row_idx").cast("int"),
        F.size("_cells").cast("int").alias("n_cells"),
        F.array_join("_cells", HTML_CELL_SEP).alias("cells"),
    )


# Regex metacharacters a robots path pattern must have escaped when
# translated (``*`` and ``$`` are the REP wildcards, handled apart).
_REGEX_META = set(".^+?(){}|[]\\")


def rule_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex (the reference
    translation — :func:`robots_filter` builds the SAME regex with a
    JVM expression chain, pinned equal in ``tests/test_web.py``).
    Per RFC 9309 §2.2.3: ``*`` matches any sequence of characters
    (``.*``), a TRAILING ``$`` anchors at end-of-path; ``$`` anywhere
    else is a literal octet (the Googlebot behavior). Everything else
    matches literally, so regex metacharacters escape. The result is
    written to the common Java-regex/RE2/Python-``re`` subset (no
    classes, no lookaround) so Spark, the DuckDB oracle, and the
    pytest third-engine replay all evaluate it identically."""
    ends_anchor = pattern.endswith("$")
    body = pattern[:-1] if ends_anchor else pattern
    out = ["^"]
    for ch in body:
        if ch == "*":
            out.append(".*")
        elif ch in _REGEX_META or ch == "$":
            out.append("\\" + ch)
        else:
            out.append(ch)
    if ends_anchor:
        out.append("$")
    return "".join(out)


def _rule_is_wild(p: Column) -> Column:
    """True when the rule needs regex matching (contains ``*`` or is
    end-anchored); plain prefixes stay on the cheap ``startswith``."""
    return p.contains("*") | p.endswith("$")


def rule_regex_expr(p: Column) -> Column:
    """The :func:`rule_to_regex` translation as a JVM expression chain
    (evaluated once per RULE inside the tiny domain-bounded
    aggregation, never per URL). Steps mirror the Python reference:
    escape regex metachars, escape every ``$``, un-escape a TRAILING
    ``$`` back into an end-anchor, expand ``*`` → ``.*``, anchor at
    start."""
    c = F.regexp_replace(p, r"([.^+?(){}|\[\]\\])", "\\\\$1")
    c = F.regexp_replace(c, r"\$", "\\\\\\$")
    c = F.regexp_replace(c, r"\\\$$", "\\$")
    c = F.regexp_replace(c, r"\*", ".*")
    return F.concat(F.lit("^"), c)


def parse_robots(text: str) -> list[tuple[str, str]]:
    """(rule_type, path_pattern) pairs from a robots.txt body for the
    ``User-agent: *`` group(s) — the published Robots Exclusion
    Protocol grouping: consecutive ``User-agent`` lines open a group,
    the ``Allow``/``Disallow`` lines that follow belong to every agent
    named in it; ``#`` comments strip; an EMPTY ``Disallow:`` value
    means "allow everything" and contributes no rule. Wildcard
    patterns (``*``/``$`` per RFC 9309) are kept verbatim — the
    matcher in :func:`robots_filter` gives them full RFC semantics.
    Driver-side parsing by design: the rules relation is
    bounded by DOMAINS, not the corpus (the load_psl precedent);
    the corpus-scale matching lives in :func:`robots_filter` and is
    oracle-checked."""
    rules: list[tuple[str, str]] = []
    applies = False
    group_closed = True
    # a UTF-8 BOM would make the first line's key "\ufeffuser-agent"
    # and silently drop the first (often only) group — Google's
    # reference parser skips it too
    text = text.lstrip("\ufeff")
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if group_closed:
                applies = val == "*"
                group_closed = False
            else:
                applies = applies or val == "*"
        elif key in ("allow", "disallow"):
            group_closed = True
            if applies and val:
                rules.append((key, val))
    return rules


def parse_crawl_delay(text: str) -> float | None:
    """Crawl-delay seconds for the ``User-agent: *`` group(s), or None
    when absent/unparseable — nonstandard (absent from RFC 9309) but
    honored by Bing/Yandex and endemic in real robots.txt, so a crawl
    scheduler needs it. Group semantics mirror :func:`parse_robots`
    exactly (consecutive User-agent lines open a group; any rule line
    closes it; comments strip; BOM skipped); the FIRST applicable
    value wins; negative or non-numeric values are ignored.
    Driver-side by design — bounded by domains, not the corpus."""
    delay: float | None = None
    applies = False
    group_closed = True
    text = text.lstrip("﻿")
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if group_closed:
                applies = val == "*"
                group_closed = False
            else:
                applies = applies or val == "*"
        elif key in ("allow", "disallow", "crawl-delay"):
            group_closed = True
            if key == "crawl-delay" and applies and delay is None:
                try:
                    v = float(val)
                except ValueError:
                    continue
                if v >= 0:
                    delay = v
    return delay


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """Append ``robots_allowed`` (boolean) to ``urls`` under per-domain
    REP rules — the crawl-compliance gate between link extraction and
    fetching/keeping a page.

    ``rules`` carries (domain, rule_type ∈ {'allow','disallow'},
    path_prefix) — one row per rule, bounded by DOMAINS × rules/file,
    so Spark broadcasts it (AQE at this size). The rules' ``domain``
    values are normalized HERE with the same canonical form the URL
    parse applies (lowercase, port stripped, leading ``www.``
    stripped) — without this, rules keyed ``www.example.com`` would
    silently fail to match URLs whose host canonicalizes to
    ``example.com`` and the gate would fail OPEN (r14 review
    finding). Decision per URL is RFC 9309 §2.2.2's most-specific
    rule: among rules of the URL's domain that MATCH the URL's path,
    the one with the most pattern octets wins; a tie between allow
    and disallow goes to ALLOW (the least-restrictive rule); no
    matching rule (or no rules for the domain) allows. Matching is
    full RFC 9309: plain patterns are path prefixes; ``*`` matches
    any character sequence and a trailing ``$`` anchors at
    end-of-path (rules like ``Disallow: /*?`` or ``/*.pdf$`` gate
    correctly — the r14 prefix-only subset failed OPEN on them).
    Wildcard rules compile to an anchored regex ONCE per rule inside
    the domain-bounded aggregation (:func:`rule_regex_expr`); plain
    prefixes — the overwhelming majority in real robots files — stay
    on ``startswith``, so the per-URL fold never pays regex compile
    cost for them.

    Scale shape — the corpus NEVER shuffles: rules collapse to ONE
    array-valued row per domain (a tiny aggregation of the
    domain-bounded relation), broadcast-join onto the URLs, and the
    longest-match decision evaluates INSIDE the projection with
    higher-order array functions — no per-candidate fan-out, no
    groupBy over the corpus, no exchange. Flag-don't-drop: callers
    filter on the boolean so the drop is auditable."""
    from lotad_spark.pipeline.urls import _url_parts

    clash = {"_r_host", "_r_path", "_r_rules", "_r_best"} & set(
        urls.columns
    )
    if clash:
        raise ValueError(
            f"robots_filter: input columns collide with staging names "
            f"{sorted(clash)}"
        )
    parts = _url_parts(F.col(url_col))
    # RFC 9309 matches against the path AND query ("/page?sid=1" must
    # hit a "Disallow: /*?" rule) — fragment is already stripped by
    # the parse; an empty path canonicalizes to "/"
    path = F.when(parts["raw_path"] == "", "/").otherwise(
        parts["raw_path"]
    )
    with_parts = urls.select(
        "*",
        parts["host"].alias("_r_host"),
        F.when(parts["raw_query"] == "", path)
        .otherwise(F.concat(path, F.lit("?"), parts["raw_query"]))
        .alias("_r_path"),
    )
    # same canonical host form as _url_parts (fail-open hazard above)
    norm_domain = F.regexp_replace(
        F.lower(F.regexp_replace(F.col("domain"), r":[0-9]+$", "")),
        r"^www\.",
        "",
    )
    rules_arr = rules.groupBy(
        norm_domain.alias("_r_host")
    ).agg(
        F.collect_list(
            F.struct(
                F.col("rule_type").alias("t"),
                F.col("path_prefix").alias("p"),
                _rule_is_wild(F.col("path_prefix")).alias("w"),
                rule_regex_expr(F.col("path_prefix")).alias("rx"),
            )
        ).alias("_r_rules")
    )
    joined = with_parts.join(F.broadcast(rules_arr), "_r_host", "left")
    hits = F.filter(
        F.coalesce(
            F.col("_r_rules"),
            F.array().cast(
                "array<struct<t:string,p:string,w:boolean,rx:string>>"
            ),
        ),
        lambda r: F.when(
            r["w"], F.regexp_like(F.col("_r_path"), r["rx"])
        ).otherwise(F.col("_r_path").startswith(r["p"])),
    )
    # fold to the winner: longer prefix wins; equal length → allow
    best = F.aggregate(
        hits,
        F.struct(
            F.lit(-1).alias("l"), F.lit(1).cast("int").alias("a")
        ),
        lambda acc, r: F.when(
            (F.length(r["p"]) > acc["l"])
            | (
                (F.length(r["p"]) == acc["l"])
                & (r["t"] == F.lit("allow"))
            ),
            F.struct(
                F.length(r["p"]).alias("l"),
                (r["t"] == F.lit("allow")).cast("int").alias("a"),
            ),
        ).otherwise(acc),
    )
    # stage the fold ONCE before reading two fields from it — the
    # repo-documented Spark 4 hazard: sibling GetStructField refs each
    # embed (and, for CodegenFallback higher-order functions,
    # re-evaluate) a full copy of the lambda tree
    return (
        joined.withColumn("_r_best", best)
        .withColumn(
            "robots_allowed",
            F.when(F.col("_r_best.l") == -1, F.lit(True)).otherwise(
                F.col("_r_best.a") == 1
            ),
        )
        .drop("_r_host", "_r_path", "_r_rules", "_r_best")
    )


# --- Sitemaps (sitemaps.org protocol, the REP's discovery companion:
# RFC 9309 groups reference them via the Sitemap: directive) -----------

# one block per <url>/<sitemap> element; (?s) because elements span
# lines. Both patterns live in the common Java-regex/RE2 subset so the
# DuckDB oracle replays them verbatim.
SITEMAP_URL_BLOCK = r"(?s)<url>(.*?)</url>"
SITEMAP_CHILD_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"
SITEMAP_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
SITEMAP_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"

# the five XML predefined entities, longest-first so no decoded text
# re-triggers a later step except the &amp; -> & pass, which runs LAST
# per the html_text_expr discipline
_XML_ENTITY_STEPS = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


def _xml_unescape_expr(col: Column) -> Column:
    out = col
    for pat, rep in _XML_ENTITY_STEPS:
        out = F.replace(out, F.lit(pat), F.lit(rep))
    return out


def sitemap_urls(
    df: DataFrame,
    xml_col: str = "xml",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, kind, url, lastmod) per entry of a sitemap document —
    ``kind='url'`` for ``<urlset>`` page entries (the crawl frontier's
    inlet, next to :func:`extract_links`), ``kind='sitemap'`` for
    ``<sitemapindex>`` children (feed them back through the fetch
    loop). ``lastmod`` is NULL when the element is absent; ``<loc>``
    values XML-unescape (the five predefined entities — sitemap URLs
    routinely carry ``&amp;``). Entries missing ``<loc>`` are dropped.

    Scale shape: one projection — two ``regexp_extract_all`` arrays,
    one explode, per-block ``regexp_extract`` — fused into the scan;
    zero UDFs, zero exchanges (the :func:`extract_links` shape).
    Namespace prefixes are NOT handled (standard sitemaps use the
    default namespace; a prefixed feed extracts nothing rather than
    guessing)."""
    blocks = F.concat(
        F.transform(
            F.regexp_extract_all(F.col(xml_col), F.lit(SITEMAP_URL_BLOCK), 1),
            lambda b: F.struct(F.lit("url").alias("kind"), b.alias("b")),
        ),
        F.transform(
            F.regexp_extract_all(
                F.col(xml_col), F.lit(SITEMAP_CHILD_BLOCK), 1
            ),
            lambda b: F.struct(F.lit("sitemap").alias("kind"), b.alias("b")),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.explode(blocks).alias("_e")
    ).select(
        id_col,
        F.col("_e.kind").alias("kind"),
        F.regexp_extract(F.col("_e.b"), SITEMAP_LOC, 1).alias("_loc"),
        F.regexp_extract(F.col("_e.b"), SITEMAP_LASTMOD, 1).alias("_lm"),
    )
    return exploded.filter(F.col("_loc") != "").select(
        id_col,
        "kind",
        _xml_unescape_expr(F.col("_loc")).alias("url"),
        F.nullif(F.col("_lm"), F.lit("")).alias("lastmod"),
    )


# tag-name tokens (opening or closing) — the template skeleton of a
# page; common Java-regex/RE2 subset so the oracle replays it verbatim
TEMPLATE_TAG_RE = r"<[ \t\n\r]*(/?[a-zA-Z][a-zA-Z0-9]*)"


def template_fingerprint(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, template_fp, n_tags, n_distinct_tags) per page: md5 of the
    lowercased tag-name sequence. Pages rendered from the same
    template share the fingerprint even when every word of text
    differs — the standard cheap key for template clustering, which a
    training pipeline uses to spot boilerplate farms (thousands of
    pages, one skeleton) and to cap or drop them; group on
    ``template_fp`` downstream. One projection fused into the scan:
    zero UDFs, zero exchanges. Attribute CONTENT is excluded by
    construction (only tag names hash), so A/B text variants of one
    template collapse; pages differing in structure (one extra
    ``<div>``) do not — that sensitivity is the point of an EXACT
    template key; use the text-side near-dup family for fuzzy
    grouping."""
    tags = F.transform(
        F.regexp_extract_all(F.col(html_col), F.lit(TEMPLATE_TAG_RE), 1),
        F.lower,
    )
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(tags, ",")).alias("template_fp"),
        F.size(tags).cast("int").alias("n_tags"),
        F.size(F.array_distinct(tags)).cast("int").alias("n_distinct_tags"),
    )


# --- Main-content extraction (boilerplate removal) --------------------
# The jusText/CCNet-style step between raw HTML and the text-quality
# ladder: split the page into block-level segments, score each by
# visible-text length and LINK DENSITY (navigation/footer boilerplate
# is short and link-heavy; article prose is long and link-light), keep
# the prose blocks. All patterns stay in the common Java-regex/RE2
# subset so the oracle replays the identical chain.

MAIN_BLOCK_SPLIT_RE = r"(?is)</?(" + BLOCK_TAGS + r")\b[^>]*>"
MAIN_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a[ \t]*>"
MAIN_TAG_RE = r"(?s)<[^>]*>"
MAIN_WS_RE = "[ \t\r\n\f" + _NBSP + "]+"


def _main_visible_text(col: Column) -> Column:
    """Visible text of one block segment: strip remaining inline tags,
    fold whitespace, trim. Entities stay literal here — scoring uses
    raw visible length on BOTH engines; the final joined text decodes
    once at the end."""
    t = F.regexp_replace(col, MAIN_TAG_RE, " ")
    t = F.regexp_replace(t, MAIN_WS_RE, " ")
    return F.trim(t)


def main_content(
    df: DataFrame,
    html_col: str = "html",
    *,
    id_col: str = "doc_id",
    min_chars: int = 25,
    max_link_pct: int = 50,
) -> DataFrame:
    """(id, main_text, n_blocks, n_kept) per page — boilerplate-removed
    text: invisible containers (script/style/comments) drop with
    content, the page splits at block-tag boundaries, and a block
    survives when its visible text has at least ``min_chars``
    characters AND its link density (characters inside ``<a>`` over
    all visible characters) is at most ``max_link_pct`` percent.
    Surviving blocks join with newlines and entities decode once.
    Integer-percent scoring keeps both engines branch-identical (the
    gopher_rules discipline). One projection fused into the scan:
    zero UDFs, zero exchanges.

    Honest limits: block segmentation is tag-boundary splitting, not a
    DOM (the html_to_text contract); scoring runs BEFORE entity decode
    on both engines, so entity-heavy text is measured at its encoded
    length; jusText's stopword-class refinement is deliberately out —
    it needs per-language stopword tables, which live in
    ``text.quality_score`` downstream."""
    cleaned = F.col(html_col)
    for pat, rep in HTML_TEXT_STEPS[:3]:  # script/style/comment drops
        cleaned = F.regexp_replace(cleaned, pat, rep)
    stats = F.transform(
        F.split(cleaned, MAIN_BLOCK_SPLIT_RE),
        lambda b: F.struct(
            _main_visible_text(b).alias("txt"),
            _main_visible_text(
                F.array_join(
                    F.regexp_extract_all(b, F.lit(MAIN_ANCHOR_RE), 1), " "
                )
            ).alias("ltxt"),
        ),
    )
    # stage the per-block stats array ONCE before kept/n_blocks both
    # read it — the repo-documented Spark 4 hazard: sibling references
    # to a higher-order-function tree each embed (and re-evaluate) a
    # full copy of the lambda chain, doubling the per-block regex cost
    staged = df.select(F.col(id_col), stats.alias("_stats"))
    kept = F.filter(
        F.col("_stats"),
        lambda s: (F.length(s["txt"]) >= min_chars)
        & (
            F.length(s["ltxt"]) * 100
            <= F.length(s["txt"]) * max_link_pct
        ),
    )
    n_blocks = F.size(
        F.filter(F.col("_stats"), lambda s: F.length(s["txt"]) > 0)
    ).cast("int")
    out = staged.select(
        F.col(id_col),
        kept.alias("_kept"),
        n_blocks.alias("n_blocks"),
    )
    # same staging rule for the filtered array feeding text + count
    return out.select(
        id_col,
        decode_entities_expr(
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["txt"]), "\n"
            )
        ).alias("main_text"),
        "n_blocks",
        F.size(F.col("_kept")).cast("int").alias("n_kept"),
    )
