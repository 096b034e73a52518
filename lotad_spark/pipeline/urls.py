"""URL/domain-level curation — the FIRST stage of every web-scale
pipeline (CCNet / C4 / RefinedWeb lineage): canonicalize URLs, dedup
exact URLs, aggregate per domain, and cap/block domains. Runs BEFORE
any text operator, because at 100 TB the cheapest byte is the one a
URL-level decision never fetches.

Everything here is pure JVM expressions — zero UDFs, and the only
shuffles are the one groupBy/window each relational op needs:

* :func:`canonicalize_urls` — a single projection (regexp pipeline);
* :func:`url_dedup` — one exchange keyed on the canonical URL;
* :func:`domain_stats` / :func:`domain_cap` — one exchange keyed on
  the domain;
* :func:`domain_blocklist_filter` — literal strategy: zero exchanges.

Canonicalization steps, in a fixed documented order (each replayable
in ANSI SQL, which is how the oracle value-checks every byte):

1. trim surrounding whitespace;
2. parse scheme / userinfo / host / port / path / query / fragment
   with anchored regexes (no URL library — the parse IS the spec);
3. lowercase scheme and host (path/query stay case-sensitive per
   RFC 3986 §6.2.2.1);
4. strip userinfo, strip the scheme's default port (http:80,
   https:443 — other ports kept), strip one leading ``www.``;
5. drop the fragment entirely;
6. path: empty → ``/``; otherwise strip ONE trailing slash;
7. query: split on ``&``, drop empty params and tracking params
   (``utm_*`` prefix + the exact-key list in :data:`TRACKING_PARAMS`,
   both matched case-insensitively — ``UTM_Source``/``Gclid`` are
   stripped too; surviving params stay byte-preserved), sort the
   survivors bytewise, rejoin with ``&``.

Rows whose URL has no ``scheme://`` prefix canonicalize to NULL —
surfaced, never guessed (relative URLs have no host to curate by).

Reference scope note: the reference engine (lotad) has no URL
operators; this module is part of the beyond-reference LLM-pipeline
surface (SURVEY.md §6), modeled on the public CCNet/RefinedWeb
descriptions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from lotad_spark.sources.memory import bounded_local_df

# Exact-match tracking keys (lowercased), beyond the utm_ prefix:
# Google (gclid/dclid/wbraid/gbraid), Meta (fbclid), Microsooft ads
# (msclkid), Instagram (igshid), Mailchimp (mc_cid/mc_eid), Yandex
# (yclid), Alibaba (spm), generic referrer tags.
TRACKING_PARAMS = (
    "gclid",
    "dclid",
    "wbraid",
    "gbraid",
    "fbclid",
    "msclkid",
    "igshid",
    "mc_cid",
    "mc_eid",
    "yclid",
    "spm",
    "ref",
    "ref_src",
    "_ga",
)
TRACKING_PREFIX = "utm_"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def _url_parts(url: Column) -> dict[str, Column]:
    """The anchored-regex parse shared by every operator here. Returns
    plain Column expressions; callers MUST materialize any part they
    reference from two sibling outputs (the Spark 4 shared-tree
    hazard)."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    hostport = F.regexp_replace(
        F.regexp_extract(rest, r"^([^/?#]*)", 1), r"^[^@]*@", ""
    )
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, r":[0-9]+$", "")),
        r"^www\.",
        "",
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    tail = F.regexp_replace(
        F.regexp_extract(rest, r"^[^/?#]*([^#]*)", 1), r"#.*$", ""
    )
    raw_path = F.regexp_extract(tail, r"^([^?]*)", 1)
    raw_query = F.when(
        tail.contains("?"), F.regexp_replace(tail, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "raw_path": raw_path,
        "raw_query": raw_query,
    }


def _canonical_query(raw_query: Column) -> Column:
    """Tracking-stripped, bytewise-sorted query string (may be '').

    The tracking-key MATCH is case-insensitive (``UTM_Source`` /
    ``Gclid`` are stripped like their lowercase forms — real crawls
    mix cases); surviving params stay byte-preserved per RFC 3986
    §6.2.2.1 (only the match key is lowercased, never the output)."""
    toks = F.filter(
        F.split(raw_query, "&"),
        lambda t: (t != "")
        & ~F.lower(F.regexp_extract(t, r"^([^=]*)", 1)).startswith(
            TRACKING_PREFIX
        )
        & ~F.lower(F.regexp_extract(t, r"^([^=]*)", 1)).isin(
            *[F.lit(p) for p in TRACKING_PARAMS]
        ),
    )
    return F.array_join(F.array_sort(toks), "&")


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    *,
    out_col: str = "canonical_url",
) -> DataFrame:
    """Append ``out_col`` holding the canonical form of ``url_col``
    (the module docstring's 7 steps) — one JVM projection, zero
    exchanges, streaming-safe. URLs with no ``scheme://`` prefix (or
    NULL input) canonicalize to NULL.

    Known limitation (documented, not guessed around): IPv6 literal
    hosts (``http://[::1]/``) are treated textually — the bracketed
    form survives into the canonical host and the port strip doesn't
    apply inside brackets. Web-crawl corpora are overwhelmingly named
    hosts; pipelines with IPv6 URLs should normalize them upstream."""
    clash = {"_u_scheme", "_u_host", "_u_port", "_u_path", "_u_query"} & set(
        df.columns
    )
    if clash:
        raise ValueError(
            f"canonicalize_urls: input columns collide with staging "
            f"names {sorted(clash)}"
        )
    parts = _url_parts(F.col(url_col))
    # Materialize every multiply-referenced part in its own projection
    # first (shared-lambda/tree hazard; see blocklist_filter).
    staged = df.withColumns(
        {
            "_u_scheme": parts["scheme"],
            "_u_host": parts["host"],
            "_u_port": parts["port"],
            "_u_path": parts["raw_path"],
            "_u_query": _canonical_query(parts["raw_query"]),
        }
    )
    path = F.when(F.col("_u_path") == "", F.lit("/")).otherwise(
        F.when(
            F.col("_u_path") != "/",
            F.regexp_replace(F.col("_u_path"), r"/$", ""),
        ).otherwise(F.col("_u_path"))
    )
    port_suffix = F.when(
        (F.col("_u_port") == "")
        | ((F.col("_u_scheme") == "http") & (F.col("_u_port") == "80"))
        | (
            (F.col("_u_scheme") == "https")
            & (F.col("_u_port") == "443")
        ),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), F.col("_u_port")))
    canonical = F.when(
        (F.col("_u_scheme") == "") | (F.col("_u_host") == ""),
        F.lit(None).cast("string"),
    ).otherwise(
        F.concat(
            F.col("_u_scheme"),
            F.lit("://"),
            F.col("_u_host"),
            port_suffix,
            path,
            F.when(F.col("_u_query") == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), F.col("_u_query"))
            ),
        )
    )
    return staged.withColumn(out_col, canonical).drop(
        "_u_scheme", "_u_host", "_u_port", "_u_path", "_u_query"
    )


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Exact URL dedup AFTER canonicalization: one row per input row,
    ``(id, canonical_url, keep_id, is_dup)`` — ``keep_id`` is the
    minimum id sharing the canonical URL (the repo's deterministic
    keep-rule, same as the text dedup family) and
    ``is_dup = id != keep_id``. NULL canonicals (unparseable URLs)
    are never each other's duplicates: every such row keeps itself.

    Scale shape: ONE exchange, keyed on the canonical URL (~100-byte
    keys — bounded, unlike document text; at 100 TB this is the
    standard first-dedup and removes the plurality of raw-crawl rows
    before any text ever shuffles). Flag-don't-drop: the kept corpus
    is one ``filter(~is_dup)`` away."""
    canon = canonicalize_urls(
        df.select(id_col, url_col), url_col
    )
    w = Window.partitionBy("canonical_url")
    return canon.select(
        F.col(id_col),
        F.col("canonical_url"),
        F.when(
            F.col("canonical_url").isNull(), F.col(id_col)
        )
        .otherwise(F.min(id_col).over(w))
        .alias("keep_id"),
    ).withColumn(
        "is_dup", F.col(id_col) != F.col("keep_id")
    )


def canonical_url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str = "canonical",
) -> DataFrame:
    """Dedup by DECLARED canonical (r17): group pages on their
    rel=canonical target (``html_meta``'s ``canonical`` column),
    falling back to the page's own URL when absent, and emit
    ``(canonical_url, n_pages, keeper_<id>)`` with the minimum id as
    keeper (the repo's deterministic keep-rule). This is the
    crawl-dedup join real pipelines run FIRST — mirrors, AMP pages,
    and session-id variants declare the same canonical, so whole
    duplicate families collapse before any content bytes are hashed
    or shuffled.

    Scale shape: ONE exchange keyed on ~100-byte canonical URLs with
    map-side partial aggregation — the same bounded-key shuffle as
    :func:`url_dedup`, never document text."""
    key = F.coalesce(F.col(canonical_col), F.col(url_col)).alias(
        "canonical_url"
    )
    return (
        df.select(key, F.col(id_col))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min(id_col).alias(f"keeper_{id_col}"),
        )
    )


def _apex_expr(host: Column) -> Column:
    """Last-two-labels apex heuristic. Deliberately NOT eTLD+1: the
    public-suffix list is a versioned external artifact; the heuristic
    is wrong for multi-label suffixes (``example.co.uk`` →
    ``co.uk``) and says so here rather than pretending. Pipelines that
    need true eTLD+1 pass ``apex='psl'`` with :func:`load_psl` rules
    (see :func:`apex_psl_frame`)."""
    return F.when(
        host.rlike(r"[^.]+\.[^.]+$"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
    ).otherwise(host)


# --- eTLD+1 via a user-supplied public-suffix list -------------------
# The PSL (publicsuffix.org — a versioned, licensed external artifact)
# is never vendored here: callers download their own snapshot and pass
# it through load_psl. Parsing and matching follow the published
# algorithm: comments '//' and blanks skipped, '!rule' = exception,
# '*' matches exactly one label; the longest matching rule wins except
# an exception rule always wins (public suffix = exception rule minus
# its leftmost label); no match defaults to the 1-label rule '*'.
# Registrable (apex) domain = public suffix + one preceding label; a
# host that IS a public suffix has no registrable domain (apex NULL —
# surfaced, never guessed). Hosts are matched as-given (lowercase
# canonical form); IDNA/punycode normalization of a unicode PSL
# snapshot is the caller's concern and is documented, not guessed.


def load_psl(source) -> list[tuple[str, int, bool]]:
    """Parse a public-suffix list from a file path or an iterable of
    lines into ``(pattern, n_labels, is_exception)`` rules for
    :func:`apex_psl_frame` / :func:`psl_apex`. Exception patterns are
    stored WITHOUT the leading ``!``. Raises on an empty rule set —
    an accidentally-empty file must not silently degrade every apex
    to the default rule."""
    if isinstance(source, str):
        with open(source, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
    else:
        lines = list(source)
    rules = []
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        token = line.split()[0].lower()
        is_exc = token.startswith("!")
        if is_exc:
            token = token[1:]
        if not token or token.startswith(".") or token.endswith("."):
            raise ValueError(f"load_psl: malformed rule {raw!r}")
        rules.append((token, token.count(".") + 1, is_exc))
    if not rules:
        raise ValueError("load_psl: no rules found")
    return rules


def psl_apex(host: str | None, rules) -> str | None:
    """Driver-side reference of the PSL algorithm (also the blocklist
    guardrail's checker): the registrable domain of ``host`` under
    ``rules``, or None when the host is itself a public suffix /
    single label / None. The Spark path (:func:`apex_psl_frame`) is
    parity-tested against this function."""
    if not host:
        return None
    labels = host.split(".")
    n = len(labels)
    by_pattern = {p: (nl, exc) for p, nl, exc in rules}
    max_labels = max(nl for _p, nl, _e in rules)
    exc_len = norm_len = None
    for k in range(1, min(n, max_labels) + 1):
        cands = [".".join(labels[-k:])]
        if k > 1:
            cands.append("*." + ".".join(labels[-(k - 1) :]))
        for pat in cands:
            hit = by_pattern.get(pat)
            if hit is None:
                continue
            nl, exc = hit
            if exc:
                exc_len = max(exc_len or 0, nl)
            else:
                norm_len = max(norm_len or 0, nl)
    suffix_len = (exc_len - 1) if exc_len else (norm_len or 1)
    if n <= suffix_len:
        return None
    return ".".join(labels[-(suffix_len + 1) :])


def apex_psl_frame(
    df: DataFrame,
    rules,
    domain_col: str = "domain",
    out_col: str = "apex_domain",
) -> DataFrame:
    """Append the eTLD+1 (``out_col``) of ``domain_col`` under the PSL
    ``rules`` (:func:`load_psl`). Spark shape: each host explodes into
    its ≤``max_rule_labels`` candidate suffixes (exact + one-label
    wildcard form — bounded by the RULE depth, not the host), a
    BROADCAST join against the tiny rule relation finds matches, and
    one host-keyed aggregation picks the winner per the published
    algorithm (exception beats longest beats default-1). Run it on a
    per-domain relation (e.g. :func:`domain_stats` output), not the
    raw corpus — apex is a function of the domain, so compute it once
    per domain. NULL domains and public-suffix hosts yield NULL apex."""
    spark = df.sparkSession
    max_labels = max(nl for _p, nl, _e in rules)
    rules_df = bounded_local_df(
        spark,
        rules, "pattern string, rule_labels int, is_exception boolean"
    )
    labels = F.split(F.col(domain_col), r"\.")
    n = F.size(labels)
    k = F.col("_k")
    exact = F.array_join(F.expr(
        f"slice(split(`{domain_col}`, '\\\\.'), -_k, _k)"
    ), ".")
    wild = F.concat(
        F.lit("*."),
        F.array_join(
            F.expr(f"slice(split(`{domain_col}`, '\\\\.'), -(_k - 1), _k - 1)"),
            ".",
        ),
    )
    cands = (
        df.select(F.col(domain_col))
        .filter(F.col(domain_col).isNotNull())
        .distinct()
        .select(
            domain_col,
            F.explode(
                F.sequence(F.lit(1), F.least(n, F.lit(max_labels)))
            ).alias("_k"),
        )
        .select(
            domain_col,
            F.explode(
                F.when(k > 1, F.array(exact, wild)).otherwise(
                    F.array(exact)
                )
            ).alias("pattern"),
        )
    )
    won = (
        cands.join(F.broadcast(rules_df), "pattern")
        .groupBy(domain_col)
        .agg(
            F.max(
                F.when(F.col("is_exception"), F.col("rule_labels"))
            ).alias("_exc"),
            F.max(
                F.when(~F.col("is_exception"), F.col("rule_labels"))
            ).alias("_norm"),
        )
        .select(
            F.col(domain_col).alias("_dom"),
            F.when(F.col("_exc").isNotNull(), F.col("_exc") - 1)
            .otherwise(F.coalesce(F.col("_norm"), F.lit(1)))
            .alias("_slen"),
        )
    )
    joined = df.join(
        won, df[domain_col] == won["_dom"], "left"
    ).withColumn("_slen2", F.coalesce(F.col("_slen"), F.lit(1)))
    apex = F.when(
        F.col(domain_col).isNotNull()
        & (n > F.col("_slen2")),
        F.array_join(
            F.expr(
                f"slice(split(`{domain_col}`, '\\\\.'), "
                "-(_slen2 + 1), _slen2 + 1)"
            ),
            ".",
        ),
    )
    return joined.withColumn(out_col, apex).drop("_dom", "_slen", "_slen2")


def domain_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    *,
    apex: str = "last2",
    psl_rules=None,
) -> DataFrame:
    """Per-domain aggregation feeding cap/blocklist decisions:
    ``(domain, apex_domain, n_docs, n_urls)`` where ``domain`` is the
    canonical host (www-stripped, lowercased), ``apex_domain`` the
    last-two-labels heuristic (see :func:`_apex_expr`; the default —
    zero dependencies, wrong for multi-label suffixes and says so) or,
    with ``apex='psl'`` and :func:`load_psl` rules, the true eTLD+1
    (``example.co.uk`` stays ``example.co.uk`` instead of lumping all
    of ``co.uk``; public-suffix hosts get NULL apex). ``n_docs`` is
    the row count and ``n_urls`` the DISTINCT canonical URLs.
    Unparseable URLs aggregate under domain NULL so the gate's
    coverage is auditable. TWO exchanges (plan-pinned): the exact
    count(DISTINCT) expands to a partial-aggregated
    (domain, canonical_url) exchange — bounded by the distinct-URL
    count, not the corpus — followed by the domain-keyed final
    aggregation; the PSL mode adds only a broadcast join on the
    already-one-row-per-domain output. Trading exactness for one
    exchange means approx_count_distinct; this gate feeds cap/block
    DECISIONS, so it stays exact."""
    if apex not in ("last2", "psl"):
        raise ValueError(
            f"domain_stats: apex must be 'last2' or 'psl', got {apex!r}"
        )
    if apex == "psl" and not psl_rules:
        raise ValueError("domain_stats: apex='psl' requires psl_rules")
    canon = canonicalize_urls(df.select(id_col, url_col), url_col)
    host = F.when(
        F.col("canonical_url").isNotNull(),
        F.regexp_extract(
            F.col("canonical_url"), r"^[a-z][a-z0-9+.\-]*://([^/:?]*)", 1
        ),
    )
    staged = canon.withColumn("domain", host)
    stats = staged.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct(F.col("canonical_url"))
        .cast("bigint")
        .alias("n_urls"),
    )
    if apex == "psl":
        stats = apex_psl_frame(stats, psl_rules)
    else:
        stats = stats.withColumn(
            "apex_domain", _apex_expr(F.col("domain"))
        )
    return stats.select("domain", "apex_domain", "n_docs", "n_urls")


def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Deterministic per-domain cap (the RefinedWeb anti-monoculture
    gate): rank each domain's rows by id ascending and flag rank >
    ``max_per_domain`` as ``capped``. Returns
    ``(id, domain, domain_rank, capped)`` for every input row.
    Unparseable URLs (domain NULL) are never capped — a gate that
    silently eats the rows it can't parse is how corpora lose
    coverage unaudited.

    ONE exchange keyed on the domain. A pathological hot domain makes
    a hot partition here; that is inherent to exact per-domain rank —
    at 100 TB pre-filter with :func:`domain_stats` (broadcast the few
    over-cap domains, rank ONLY their rows) if one domain dominates
    the corpus."""
    if max_per_domain < 1:
        raise ValueError("domain_cap: max_per_domain must be >= 1")
    canon = canonicalize_urls(df.select(id_col, url_col), url_col)
    staged = canon.withColumn(
        "domain",
        F.when(
            F.col("canonical_url").isNotNull(),
            F.regexp_extract(
                F.col("canonical_url"),
                r"^[a-z][a-z0-9+.\-]*://([^/:?]*)",
                1,
            ),
        ),
    )
    w = Window.partitionBy("domain").orderBy(F.asc(id_col))
    return staged.select(
        F.col(id_col),
        F.col("domain"),
        F.when(F.col("domain").isNull(), F.lit(1))
        .otherwise(F.row_number().over(w))
        .cast("bigint")
        .alias("domain_rank"),
    ).withColumn(
        "capped", F.col("domain_rank") > max_per_domain
    )


def domain_blocklist_filter(
    df: DataFrame,
    domains: list[str] | tuple[str, ...],
    id_col: str = "doc_id",
    url_col: str = "url",
    *,
    psl_rules=None,
) -> DataFrame:
    """Domain-axis blocklist (the companion to the content-axis
    :func:`~lotad_spark.pipeline.text.blocklist_filter`): flag rows
    whose canonical host equals a blocked domain OR is a subdomain of
    one (``example.com`` blocks ``a.b.example.com`` — suffix-at-label
    semantics, never substring: ``notexample.com`` does not match).
    Returns ``(id, domain, blocked_by, blocked)``; ``blocked_by`` is
    the matching blocklist entry (bytewise-smallest when several
    match, deterministic) or NULL.

    The term list rides into the projection as an array literal — the
    curated-blocklist shape (hundreds to thousands of domains), ONE
    scan, zero exchanges. NULL domains are never blocked (surfaced
    via the domain column instead)."""
    # strip() FIRST: ' example.com ' must normalize to a matchable
    # entry, not silently keep its spaces and never match any host.
    dl = sorted(
        {d.strip().lower().lstrip(".") for d in domains if d.strip()}
    )
    if not dl:
        raise ValueError("domain_blocklist_filter: empty domain list")
    if psl_rules is not None:
        # Guardrail: suffix-at-label matching means an entry that IS a
        # public suffix blocks an entire registry zone ('co.uk' blocks
        # every .co.uk site). With PSL rules supplied, refuse such
        # entries loudly instead of letting a typo empty the corpus.
        too_broad = [d for d in dl if psl_apex(d, psl_rules) is None]
        if too_broad:
            raise ValueError(
                "domain_blocklist_filter: entries are public suffixes "
                f"(would block entire registry zones): {too_broad}"
            )
    canon = canonicalize_urls(df.select(id_col, url_col), url_col)
    staged = canon.select(
        F.col(id_col),
        F.when(
            F.col("canonical_url").isNotNull(),
            F.regexp_extract(
                F.col("canonical_url"),
                r"^[a-z][a-z0-9+.\-]*://([^/:?]*)",
                1,
            ),
        ).alias("domain"),
    )
    lit = F.array(*[F.lit(d) for d in dl])
    # Materialize the lambda-bearing match array before `blocked`
    # references it (shared-tree hazard).
    matched = staged.withColumn(
        "_hits",
        F.when(
            F.col("domain").isNotNull(),
            F.array_sort(
                F.filter(
                    lit,
                    lambda d: (F.col("domain") == d)
                    | F.col("domain").endswith(
                        F.concat(F.lit("."), d)
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return matched.select(
        F.col(id_col),
        F.col("domain"),
        F.when(F.size("_hits") > 0, F.col("_hits")[0]).alias(
            "blocked_by"
        ),
        (F.size("_hits") > 0).alias("blocked"),
    )


def write_url_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Materialize the EXACT canonical-URL membership index the daily
    crawl loop dedups against (the precise sibling of the approximate
    Bloom prefilter): the DISTINCT canonical URLs of
    the corpus as parquet (``urls/``: canonical_url) plus a one-row
    ``meta/`` (n_urls). Canonicalization runs once at build;
    unparseable URLs (NULL canonical) are NOT indexed — they can never
    match a future batch row, and indexing them would make NULL a
    member."""
    canon = (
        canonicalize_urls(df.select(id_col, url_col), url_col)
        .filter(F.col("canonical_url").isNotNull())
        .select("canonical_url")
        .distinct()
    )
    canon.write.mode("overwrite").parquet(f"{path}/urls")
    spark = df.sparkSession
    n = spark.read.parquet(f"{path}/urls").count()
    bounded_local_df(
        spark,
        [(int(n),)], "n_urls bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def url_dedup_against_index(
    spark,
    index_path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Incremental URL dedup: flag a new batch against a stored
    :func:`write_url_index` AND within itself — one pass, the daily
    ingest shape. Returns one row per batch row:
    ``(id, canonical_url, is_dup, dup_source)`` where ``dup_source``
    is ``'index'`` (canonical already stored — wins over batch),
    ``'batch'`` (new URL, but a smaller id in THIS batch has it) or
    NULL. Unparseable URLs keep themselves, as in :func:`url_dedup`.

    Scale shape: the batch canonicalizes once; the index join is a
    LEFT SEMI-shaped left join on the canonical key — AQE broadcasts
    the index when it fits, shuffles the (id, canonical) projection
    (never text) otherwise; the within-batch face reuses the
    :func:`url_dedup` window. Probe-after-append ≡ rebuild-over-union
    is pinned in tests."""
    canon = canonicalize_urls(df.select(id_col, url_col), url_col)
    idx = spark.read.parquet(f"{index_path}/urls").withColumn(
        "_in_index", F.lit(True)
    )
    joined = canon.join(idx, "canonical_url", "left")
    w = Window.partitionBy("canonical_url")
    keep = F.when(
        F.col("canonical_url").isNull(), F.col(id_col)
    ).otherwise(F.min(id_col).over(w))
    staged = joined.select(
        F.col(id_col),
        F.col("canonical_url"),
        F.coalesce(F.col("_in_index"), F.lit(False)).alias("_idx"),
        keep.alias("_keep"),
    )
    dup_source = F.when(F.col("_idx"), F.lit("index")).otherwise(
        F.when(F.col(id_col) != F.col("_keep"), F.lit("batch"))
    )
    return staged.select(
        id_col,
        "canonical_url",
        dup_source.isNotNull().alias("is_dup"),
        dup_source.alias("dup_source"),
    )


def append_to_url_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Fold a batch's NEW canonical URLs into a live index without
    re-reading the stored set's source corpus: canonicalize the batch,
    left-anti against the stored relation, parquet-APPEND only the
    novel URLs (existing files untouched — appends here are
    distinct-safe because the anti-join guarantees novelty), then
    rewrite meta through the rename-swap (readers fall back to
    ``meta.old`` in the crash window). A crash mid-append leaves
    partial part-files of NOVEL urls only — re-running the append
    anti-joins them away, so recovery is re-run, same as the sketch
    index.

    Scale note: the novel set is eagerly localCheckpointed (so the
    append never scans its own new files); executor memory/disk bounds
    that set. At extreme daily volumes (novel URLs in the hundreds of
    millions) stage the anti-join result to a scratch parquet dir and
    append from THERE instead — same two-job shape, unbounded
    staging."""
    from lotad_spark.pipeline.retrieval import _replace_dir

    spark = df.sparkSession
    new = (
        canonicalize_urls(df.select(id_col, url_col), url_col)
        .filter(F.col("canonical_url").isNotNull())
        .select("canonical_url")
        .distinct()
        .join(
            spark.read.parquet(f"{path}/urls"),
            "canonical_url",
            "left_anti",
        )
        # EAGER checkpoint: the anti-join reads the very directory the
        # next line appends to — materialize the novel set first so the
        # write job never scans files it is itself creating.
        .localCheckpoint(eager=True)
    )
    new.write.mode("append").parquet(f"{path}/urls")
    n = spark.read.parquet(f"{path}/urls").count()
    bounded_local_df(
        spark,
        [(int(n),)], "n_urls bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta.tmp")
    _replace_dir(spark, f"{path}/meta.tmp", f"{path}/meta")
