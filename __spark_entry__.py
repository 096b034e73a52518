"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Conventions used here so Spark and DuckDB agree bit-for-bit:

* diff queries drop the engine-internal ``hashed_row`` column (digests are
  engine-private join keys, not comparable surface);
* "no drift expected" scenarios return a single ``drift_rows`` count row,
  with an oracle that derives the same count from an honest semantic
  comparison (JSON key extraction, order-insensitive element compare, set
  semantics) rather than a literal 0;
* double aggregations are cast to DECIMAL(18,2) before summing on BOTH
  engines — float summation order is nondeterministic, decimal is exact;
* counts are BIGINT on both engines; summary-table counts are INTEGER on
  both (matching the reference's INTEGER summary columns).
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _scratch(prefix: str) -> str:
    """mkdtemp that cleans up at interpreter exit — repeated local-gate
    and bench runs otherwise accumulate per-invocation temp dirs."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lotad_spark.hashing import HASH_COL
from lotad_spark.operators.diff import diff_tables
from lotad_spark.sources.memory import bounded_local_df
from lotad_spark.sources.parquet import ParquetDatabase


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp→string rendering must agree with the DuckDB oracle
    # regardless of how the caller built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return ParquetDatabase(spark, sf_dir, "db").table(name)


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism floor for HEAVY per-row Python encode/decode stages.

    The sf-dir relations are single parquet files written as ONE row
    group, so their scans are one unsplittable task (maxPartitionBytes
    cannot split inside a row group) and every pure-Python payload
    builder/decoder downstream of them ran SERIALLY -- measured at
    sf0.1: the webp fixture encode+decode is ~3.5 s of single-core
    Python, which was the whole multimodal_webp_luma_hist row (guide
    S2.5: one huge unsplittable file -> repartition immediately after
    the read). A round-robin repartition to the session parallelism
    costs one tiny shuffle of (id, text) rows and unlocks every core.

    Applied ONLY where the per-row Python work dominates that shuffle
    plus the 32-task Arrow stage setup: the A/B over all 21 media
    builders showed webp -51%, pdf -33%, jpeg -34% but a systematic
    0.1-0.7 s LOSS on every cheap builder (png/gif/tiff/office/audio/
    avi), so those keep the unspread scan. Scale-adaptive: when the
    scan already splits (production multi-file/multi-row-group
    inputs), this is a no-op -- the floor only lifts starved scans.
    Values are per-row, so placement cannot change any result (and
    Spark's round-robin repartition sorts within partitions first, so
    row->partition assignment is deterministic under task retries)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)



# ---------------------------------------------------------------------------
# Deterministic mutations (shared shape between Spark queries and oracle SQL)
# ---------------------------------------------------------------------------

def _customer_deleted(spark, sf_dir):
    """db2 variant: rows with c_custkey % 97 == 0 deleted."""
    return _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 97 != 0)


def _customer_value_change(spark, sf_dir):
    """db2 variant: c_acctbal shifted +100 where c_custkey % 101 == 0."""
    c = _t(spark, sf_dir, "customer")
    return c.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 101 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )


_CUSTOMER_VALUE_CHANGE_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, "
    "CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, "
    "c_mktsegment FROM customer"
)

_CUSTOMER_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"


def _sym_except(cols: str, t1: str, t2: str) -> str:
    """Symmetric set-difference oracle matching the reference's
    anti-join + UNION-distinct (set semantics on both sides)."""
    return (
        f"SELECT 'db1' AS observed_in, * FROM "
        f"(SELECT {cols} FROM {t1} EXCEPT SELECT {cols} FROM {t2}) "
        f"UNION ALL "
        f"SELECT 'db2' AS observed_in, * FROM "
        f"(SELECT {cols} FROM {t2} EXCEPT SELECT {cols} FROM {t1})"
    )


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def q_diff_deleted_rows(spark, sf_dir):
    r = diff_tables(
        _t(spark, sf_dir, "customer"), _customer_deleted(spark, sf_dir),
        db1_id="db1", db2_id="db2",
    )
    return r.diff.drop(HASH_COL)


def q_diff_value_change(spark, sf_dir):
    r = diff_tables(
        _t(spark, sf_dir, "customer"), _customer_value_change(spark, sf_dir),
        db1_id="db1", db2_id="db2",
    )
    return r.diff.drop(HASH_COL)


def q_diff_counts(spark, sf_dir):
    r = diff_tables(
        _t(spark, sf_dir, "customer"), _customer_value_change(spark, sf_dir),
        db1_id="db1", db2_id="db2",
    )
    return r.diff.groupBy("observed_in").agg(F.count(F.lit(1)).alias("n"))


def q_diff_ignore_column(spark, sf_dir):
    r = diff_tables(
        _t(spark, sf_dir, "customer"), _customer_value_change(spark, sf_dir),
        db1_id="db1", db2_id="db2", ignore_columns=["c_acctbal"],
    )
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_diff_ignore_dates(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    mutated = o.withColumn(
        "o_orderdate",
        F.when(
            F.col("o_orderkey") % 89 == 0,
            F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"),
        ).otherwise(F.col("o_orderdate")),
    )
    r = diff_tables(o, mutated, db1_id="db1", db2_id="db2", ignore_dates=True)
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_diff_type_mismatch(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    mutated = c.withColumn("c_custkey", F.col("c_custkey").cast("string"))
    r = diff_tables(c, mutated, db1_id="db1", db2_id="db2")
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_diff_json_reorder(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    v1 = n.select(
        "n_nationkey",
        F.concat(
            F.lit('{"k": '), F.col("n_nationkey").cast("string"),
            F.lit(', "name": "'), F.col("n_name"), F.lit('"}'),
        ).alias("props"),
    )
    v2 = n.select(
        "n_nationkey",
        F.concat(
            F.lit('{"name": "'), F.col("n_name"),
            F.lit('", "k": '), F.col("n_nationkey").cast("string"), F.lit("}"),
        ).alias("props"),
    )
    r = diff_tables(v1, v2, db1_id="db1", db2_id="db2")
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_diff_array_reorder(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    v1 = n.select(
        "n_nationkey",
        F.concat(
            F.lit('["'), F.col("n_name"), F.lit('", "'),
            F.col("n_name"), F.lit('-x"]'),
        ).alias("props"),
    )
    v2 = n.select(
        "n_nationkey",
        F.concat(
            F.lit('["'), F.col("n_name"), F.lit('-x", "'),
            F.col("n_name"), F.lit('"]'),
        ).alias("props"),
    )
    r = diff_tables(v1, v2, db1_id="db1", db2_id="db2")
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_diff_dup_collapse(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    r = diff_tables(c.unionByName(c), c, db1_id="db1", db2_id="db2")
    return r.diff.agg(F.count(F.lit(1)).cast("bigint").alias("drift_rows"))


def q_schema_drift_records(spark, sf_dir):
    from lotad_spark.drift import generate_table_schema_drift
    from lotad_spark.analysis import _q
    from lotad_spark.sources.memory import DictDatabase

    c = _t(spark, sf_dir, "customer")
    mutated = c.drop("c_mktsegment").withColumn(
        "c_acctbal", F.col("c_acctbal").cast("string")
    )
    d1 = DictDatabase({"customer": c}, "db1")
    d2 = DictDatabase({"customer": mutated}, "db2")
    records = generate_table_schema_drift(
        "customer", "db1", d1.get_schema("customer"), "db2", d2.get_schema("customer")
    )
    rows = [
        (
            _q(r.table_name), _q(r.column_name), _q(r.db1),
            _q(r.db1_column_type), _q(r.db2), _q(r.db2_column_type),
        )
        for r in records
    ]
    return bounded_local_df(spark, 
        rows,
        "table_name string, column_name string, db1 string, "
        "db1_column_type string, db2 string, db2_column_type string",
    )


def q_missing_table_records(spark, sf_dir):
    from lotad_spark.drift import generate_missing_table_drift
    from lotad_spark.analysis import _q

    records = generate_missing_table_drift(
        "db1", {"customer", "orders"}, "db2", {"customer"}
    )
    rows = [(_q(r.table_name), _q(r.observed_in), _q(r.missing_in)) for r in records]
    return bounded_local_df(spark, 
        rows, "table_name string, observed_in string, missing_in string"
    )


def q_drift_summary(spark, sf_dir):
    from lotad_spark.compare import compare_all
    from lotad_spark.sources.memory import DictDatabase

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    db1 = DictDatabase({"customer": c, "orders": o}, "db1")
    db2 = DictDatabase(
        {
            "customer": _customer_deleted(spark, sf_dir),
            "orders": o.filter(F.col("o_orderkey") % 89 != 0),
        },
        "db2",
    )
    out = _scratch("lotad_entry_")
    res = compare_all(spark, db1, db2, output_path=out)
    rows = [
        (
            r["table_name"], r["db1"], r["rows_only_in_db1"],
            r["db2"], r["rows_only_in_db2"],
        )
        for r in res.analysis.get_data_drift_summary()
    ]
    return bounded_local_df(spark, 
        rows,
        "table_name string, db1 string, rows_only_in_db1 bigint, "
        "db2 string, rows_only_in_db2 bigint",
    )


def q_wizard_overlap_probe(spark, sf_dir):
    """The wizard's J3 probe THROUGH the public API (r14: formerly an
    inline copy of the same join; now the registry row exercises
    wizard.column_overlap_count itself — DISTINCT…LIMIT sample of db1's
    column, broadcast, map-side semi join count against db2). Also the
    A3 DISTINCT…LIMIT sample's oracle coverage since the r14
    consolidation retired wizard_distinct_sample (which ran no repo
    code): the sample is the first stage of this probe."""
    from lotad_spark.wizard import column_overlap_count

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    n = column_overlap_count(c, s, "nk")
    return bounded_local_df(spark, [(n,)], "overlap_n bigint")


def q_suggest_ignore_columns(spark, sf_dir):
    from lotad_spark.wizard import suggest_ignore_columns

    c = _t(spark, sf_dir, "customer")
    mutated = c.withColumn(
        "c_name", F.concat(F.lit("ZZ-"), F.col("c_custkey").cast("string"))
    )
    cols = suggest_ignore_columns(c, mutated)
    return bounded_local_df(spark, [(x,) for x in cols], "column_name string")


def q_q1_lineitem_agg(spark, sf_dir):
    """Summation stays exact DECIMAL internally; the emitted columns follow
    the repo-wide cross-engine convention round(CAST(... AS DOUBLE), 2) so
    the driver's value digest renders identically on Spark and DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias(
                "sum_base_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_topk_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def q_events_sliding_agg(spark, sf_dir):
    """Hopping-window (30 min window / 10 min slide) counts + sums per
    type — the batch face of the SAME definition `readStream` runs; each
    event replicates into 3 windows map-side, the exchange carries only
    (window, key) partials."""
    from lotad_spark.streaming import sliding_window_agg

    return sliding_window_agg(_t(spark, sf_dir, "events"))


def q_events_window_agg(spark, sf_dir):
    """Batch face of the shared batch+streaming window aggregation — the
    SAME definition `readStream` runs (streaming/windowed.py)."""
    from lotad_spark.streaming import windowed_event_agg

    return windowed_event_agg(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# LLM-pipeline queries (documents table)
# ---------------------------------------------------------------------------

def _dup_corpus(spark, sf_dir):
    """documents ∪ exact copies (doc_id+100000) of every 10th doc."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return d.unionByName(copies)


def _near_dup_corpus(spark, sf_dir):
    """documents ∪ near-copies (appended tail) of every 25th doc."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz tail words")))
    )
    return d.unionByName(copies)


# Deterministic HTML wrapper for the web-extraction rows: raw text and
# doc_id slot into a template exercising every extraction step —
# script/style/comment containers (with a stray '<' and a '</div>'
# INSIDE the script, which must vanish with it), block tags, inline
# tags with attributes, the named entities, double- and single-quoted
# hrefs. Built by the SAME part list on both engines (Spark concat /
# SQL ||), so the chains replay on identical input.
_HTML_PARTS = (
    '<html lang="en-US"><head><title>Doc ',
    None,  # doc_id
    '</title><meta charset="utf-8">'
    # r17 canonical fixture: the URL varies by doc_id so the checked
    # row value-checks the extraction, and it feeds url_dedup directly
    '<link rel="canonical" href="https://example.com/canon/',
    None,  # doc_id
    '"><meta name="description" content="Summary &amp; notes for doc ',
    None,  # doc_id
    '"><style>p { color: #333; }</style>'
    '<script type="text/javascript">var x = 1 < 2; '
    'var s = "</div>"; // d',
    None,  # doc_id
    "</script></head><body><h1>Doc ",
    None,  # doc_id
    "</h1><p>",
    "TEXT",  # raw document text
    '</p><div class="note">&amp; &lt;raw&gt; &quot;q&quot;&nbsp;end'
    "</div><p>caf&eacute; r&#233;sum&#xE9; &mdash; &#8212; "
    "&rsquo;quote&#8217; &hellip; &euro;9 bad:&#0;&#xD800;&#1114112; "
    "literal:&amp;#39; &unknown; 8digit:&#12345678;</p>"
    # r16 tail-entity fixtures: Greek, arrows, math, Latin-1
    # completeness, punctuation — the full-HTML4-table names that the
    # hand-written top-frequency set left literal
    "<p>tail:&Omega;&alpha;&beta; &rarr;&hArr;&crarr; "
    "&forall;&exist;&nsub;&sube;&there4;&oplus; &Aring;&thorn;&yuml;"
    "&ETH;&iexcl; &permil;&prime;&Prime; &lang;&rang;&lceil;&rfloor; "
    "&spades;&loz; &frac34;&micro;&sup2; &Dagger;&sbquo;&bdquo; "
    "&alefsym;&weierp; still&sup1;literal:&fjlig;</p>"
    # r16 table fixture: a TH header row, a varying data cell, raw
    # inner markup (<b>) and a raw entity inside cells
    '<table class="kv"><tr><th>key</th><th>v&amp;al</th></tr>'
    "<tr><td><b>id</b></td><td>",
    None,  # doc_id
    "</td></tr></table>"
    '<a href="https://example.com/doc/',
    None,  # doc_id
    '?a=1&amp;b=2">first link</a> <a href=\'/rel/',
    None,  # doc_id
    "'>second</a><!-- comment ",
    None,  # doc_id
    " --></body></html>",
)


def _doc_html_frame(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cols = []
    for part in _HTML_PARTS:
        if part is None:
            cols.append(F.col("doc_id").cast("string"))
        elif part == "TEXT":
            cols.append(F.coalesce(F.col("text"), F.lit("")))
        else:
            cols.append(F.lit(part))
    return d.select("doc_id", F.concat(*cols).alias("html"))


def _doc_html_py(doc_id: int, text: str | None) -> str:
    """Driver-side Python render of the SAME ``_HTML_PARTS`` template —
    byte-identical to ``_doc_html_frame``'s Catalyst concat by
    construction (pinned in tests/test_entry_oracles.py), so fixture
    synthesis that already runs a driver loop (the WARC writer) can
    render without paying the expression-template analysis."""
    out = []
    for part in _HTML_PARTS:
        if part is None:
            out.append(str(doc_id))
        elif part == "TEXT":
            out.append(text or "")
        else:
            out.append(part)
    return "".join(out)


def _html_build_sql() -> str:
    def q(s):
        return "'" + s.replace("'", "''") + "'"

    parts = []
    for part in _HTML_PARTS:
        if part is None:
            parts.append("CAST(doc_id AS VARCHAR)")
        elif part == "TEXT":
            parts.append("coalesce(text, '')")
        else:
            parts.append(q(part))
    return (
        "SELECT doc_id, " + " || ".join(parts) + " AS html FROM documents"
    )


def _entity_decode_sql(col: str) -> str:
    """DuckDB replay of decode_entities_expr over column ``col``: same
    HTML_ENTITY_RE / named table / codepoint-validity rule from the
    module constants, but an INDEPENDENT codepoint→char implementation
    (DuckDB's native chr() vs Spark's arithmetic UTF-8 bytes)."""
    from lotad_spark.pipeline.web import (
        HTML_ENTITY_RE,
        HTML_NAMED_ENTITIES,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    re_sql = q(HTML_ENTITY_RE)
    code = (
        "(CASE WHEN substr(e, 2, 1) IN ('x', 'X') "
        "THEN try_cast('0x' || substr(e, 3) AS INTEGER) "
        "ELSE try_cast(substr(e, 2) AS INTEGER) END)"
    )
    named = " ".join(
        f"WHEN {q(name)} THEN {q(ch)}"
        for name, ch in HTML_NAMED_ENTITIES
    )
    # coalesce: the generic name pattern (r16) matches names the table
    # does not decode — they reconstruct to their literal '&name;',
    # byte-identical to never having matched (mirrors _entity_char's
    # fallback arm)
    ent_char = (
        "CASE WHEN e LIKE '#%' THEN chr(CASE WHEN "
        + code
        + " BETWEEN 1 AND 1114111 AND NOT ("
        + code
        + " BETWEEN 55296 AND 57343) THEN "
        + code
        + " ELSE 65533 END) ELSE coalesce(CASE e "
        + named
        + " END, '&' || e || ';') END"
    )
    ents = f"regexp_extract_all({col}, {re_sql}, 1)"
    segs = f"string_split_regex({col}, {re_sql})"
    return (
        f"CASE WHEN len({ents}) = 0 THEN {col} ELSE "
        "array_to_string(list_transform(list_zip("
        f"list_slice({segs}, 1, len({ents})), "
        f"list_transform({ents}, e -> {ent_char})), "
        "p -> p[1] || p[2]), '') "
        f"|| {segs}[-1] END"
    )


def _html_extract_sql(builder_sql: str | None = None) -> str:
    """The EXACT html_text_expr chain, regenerated in SQL from the
    same constants (pipeline/web.py) — patterns live in the common
    Java-regex/RE2 subset by construction, so the replay is
    byte-faithful. Entity decode replays via _entity_decode_sql.
    ``builder_sql`` overrides the (doc_id, html) source — the warc
    oracle passes the CJK-paragraph-injected variant."""
    from lotad_spark.pipeline.web import (
        HTML_SPACE_STEPS,
        HTML_TEXT_STEPS,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    expr = "html"
    for pat, rep in HTML_TEXT_STEPS:
        rep_sql = "chr(10)" if rep == "\n" else q(rep)
        expr = f"regexp_replace({expr}, {q(pat)}, {rep_sql}, 'gs')"
    # bind the tag-stripped text to a name so the entity construct's
    # repeated references stay readable (and cheap to plan)
    inner = (
        "SELECT doc_id, " + expr + " AS stripped FROM ("
        + (builder_sql or _html_build_sql()) + ")"
    )
    expr = _entity_decode_sql("stripped")
    for pat, rep in HTML_SPACE_STEPS:
        rep_sql = "chr(10)" if rep == "\n" else q(rep)
        expr = f"regexp_replace({expr}, {q(pat)}, {rep_sql}, 'gs')"
    return "SELECT doc_id, " + expr + " AS text FROM (" + inner + ")"


def _html_links_sql() -> str:
    from lotad_spark.pipeline.web import LINK_PATTERNS

    arrs = " || ".join(
        "regexp_extract_all(html, '"
        + p.replace("'", "''")
        + "', 1)"
        for p in LINK_PATTERNS
    )
    return (
        "SELECT doc_id, unnest(" + arrs + ") AS link FROM ("
        + _html_build_sql()
        + ")"
    )


# CJK bodies for the warc row (r16): (charset label, Python codec that
# mirrors the JVM decoder warc_http_text routes the label to, phrase).
# Each phrase round-trips its codec exactly (pinned in
# tests/test_warc.py), so decode-back == the injected template and the
# oracle replay needs no encoding knowledge — the same trick as the
# cp1252 fixtures. Labels deliberately include non-canonical aliases
# (gb2312 → the GBK decoder per WHATWG).
_CJK_WARC = (
    ("shift_jis", "cp932", "日本語のテキスト、テスト用です。"),
    ("euc-jp", "euc_jp", "こんにちは、世界。漢字かな混在。"),
    ("gb2312", "gbk", "中文文本,简体测试。"),
    ("euc-kr", "cp949", "한국어 텍스트 예시입니다."),
    # r17: the big5 label routes through Java's Big5-HKSCS superset
    # decoder, so the phrase carries five HKSCS-only Cantonese chars
    # (哋嘅嘢喺咗) that plain Big5 turned into U+FFFD — the closed
    # divergence is IN the checked row. Python's big5hkscs codec
    # round-trips these bytes identically to the JVM decoder
    # (verified; pinned in tests/test_warc.py).
    ("big5", "big5hkscs", "廣東話測試:佢哋嘅嘢喺咗度。繁體字樣。"),
)


def _warc_inject_cjk(doc_id: int, html: str) -> tuple[str, str, str]:
    """(html, charset label, python codec) for one warc record: every
    ``doc_id % 11 == 3`` doc gets a CJK paragraph injected before
    </body> and ships in the family cycling by doc_id // 11 % 5."""
    if doc_id % 11 != 3:
        return html, "", ""
    label, codec, phrase = _CJK_WARC[(doc_id // 11) % 5]
    return (
        html.replace(
            "</body></html>", "<p>" + phrase + "</p></body></html>"
        ),
        label,
        codec,
    )


# The synthetic corpus carries no sentence terminators, so the
# sentence row PUNCTUATES it first — deterministic literal rewrites
# both engines replay identically (regexp_replace with literal
# patterns on both sides): '. ' after every ' table ', '! ' after
# every ' row ', a trailing '?? ...' fragment, and an unterminated
# tail. Exercises multi-terminator runs, trimming, and the
# final-fragment rule IN the checked row.
_SENT_PUNCT_STEPS = (
    (" table ", ". "),
    (" row ", "! "),
)


def q_sentence_split(spark, sf_dir):
    """Sentence segmentation (pipeline/text.py sentence_split — NEW
    r16): maximal non-terminator runs with their trailing [.!?] run,
    whitespace-trimmed, empties dropped, 0-based ids in document
    order — the grain for per-sentence dedup/decontamination and
    RAG chunk alignment. The oracle replays the same pattern with
    DuckDB list functions and a positional parallel unnest over the
    same punctuated text."""
    from lotad_spark.pipeline.text import sentence_split

    txt = F.coalesce(F.col("text"), F.lit(""))
    for pat, rep in _SENT_PUNCT_STEPS:
        txt = F.regexp_replace(txt, pat, rep)
    punct = F.concat(
        txt,
        F.lit("?? trailing q "),
        F.col("doc_id").cast("string"),
        F.lit(" unterminated tail"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", punct.alias("text")
    )
    return sentence_split(docs)


def _sentence_split_sql() -> str:
    from lotad_spark.pipeline.text import (
        _SENT_TRIM_HEAD,
        _SENT_TRIM_TAIL,
        SENTENCE_SPLIT_RE,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    punct = "coalesce(text, '')"
    for pat, rep in _SENT_PUNCT_STEPS:
        punct = f"regexp_replace({punct}, {q(pat)}, {q(rep)}, 'g')"
    punct = (
        punct + " || '?? trailing q ' || CAST(doc_id AS VARCHAR) "
        "|| ' unterminated tail'"
    )
    sents = (
        "list_filter(list_transform("
        f"regexp_extract_all(ptext, {q(SENTENCE_SPLIT_RE)}, 0), "
        f"s -> regexp_replace(regexp_replace(s, {q(_SENT_TRIM_HEAD)}, "
        f"''), {q(_SENT_TRIM_TAIL)}, '')), s -> s != '')"
    )
    return (
        "SELECT doc_id, CAST(i AS INT) AS sentence_id, sentence FROM ("
        f"SELECT doc_id, unnest(range(0, len({sents}))) AS i, "
        f"unnest({sents}) AS sentence FROM ("
        f"SELECT doc_id, {punct} AS ptext FROM documents))"
    )


def q_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language mismatch (NEW r17): the CCNet-
    style mislabel flag — a page whose html lang attribute disagrees
    with n-gram detection is a known quality hazard (template lang
    left at the CMS default). Composes html_meta's declared lang over
    a per-doc REWRITTEN template (declared cycles en-US/fr/de/absent
    by doc_id%4 via literal rewrites both engines replay) with
    lang_id's detection on the raw text, joined on doc_id;
    is_mismatch = primary declared subtag != detected (NULL when
    nothing is declared — can't judge an absent label). The oracle
    replays the declared cycle arithmetically and the detection via
    the shared lang-marker SQL."""
    from lotad_spark.pipeline import lang_id
    from lotad_spark.pipeline.web import html_meta

    frame = _doc_html_frame(spark, sf_dir)
    decl = F.element_at(
        F.array(
            F.lit("en-US"), F.lit("fr"), F.lit("de"),
            F.lit(None).cast("string"),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    html2 = F.when(
        decl.isNull(),
        F.regexp_replace("html", F.lit(' lang="en-US"'), F.lit("")),
    ).otherwise(
        F.regexp_replace(
            "html",
            F.lit('lang="en-US"'),
            F.concat(F.lit('lang="'), decl, F.lit('"')),
        )
    )
    meta = html_meta(
        frame.select("doc_id", html2.alias("html")), "html"
    ).select("doc_id", F.col("lang").alias("declared"))
    detected = lang_id(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.col("lang_pred").alias("detected"))
    joined = meta.join(detected, "doc_id")
    primary = F.lower(F.split(F.col("declared"), "-")[0])
    return joined.select(
        "doc_id",
        "declared",
        "detected",
        F.when(
            F.col("declared").isNotNull(),
            primary != F.col("detected"),
        ).alias("is_mismatch"),
    )


def _lang_mismatch_sql() -> str:
    return (
        "WITH lang AS (" + _LANG_ID_SQL + "), "
        "d AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN 'en-US' WHEN 1 THEN 'fr' WHEN 2 THEN 'de' "
        "ELSE NULL END AS declared FROM documents) "
        "SELECT d.doc_id, d.declared, l.lang_pred AS detected, "
        "CASE WHEN d.declared IS NULL THEN NULL "
        "ELSE lower(string_split(d.declared, '-')[1]) != l.lang_pred "
        "END AS is_mismatch "
        "FROM d JOIN lang l ON d.doc_id = l.doc_id"
    )


def q_html_meta(spark, sf_dir):
    """Head-metadata extraction (pipeline/web.py html_meta — NEW r16):
    title, declared lang, declared charset, meta description (dq/sq
    content forms), NULL when absent — the stratification keys a
    curation pipeline reads before any content processing. One JVM
    projection; the oracle replays the same patterns (common
    Java-regex/RE2 subset) over the same rebuilt HTML."""
    from lotad_spark.pipeline.web import html_meta

    return html_meta(_doc_html_frame(spark, sf_dir), "html")


def _html_meta_sql() -> str:
    from lotad_spark.pipeline.web import HTML_META_PATTERNS

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    pats = dict(HTML_META_PATTERNS)

    def ex(p):
        return f"nullif(regexp_extract(html, {q(p)}, 1), '')"

    return (
        "SELECT doc_id, "
        + ex(pats["title"]) + " AS title, "
        + ex(pats["lang"]) + " AS lang, "
        + ex(pats["charset"]) + " AS charset, "
        + "coalesce(" + ex(pats["description"]) + ", "
        + ex(pats["description_sq"]) + ") AS description, "
        + "coalesce(" + ex(pats["canonical"]) + ", "
        + ex(pats["canonical_sq"]) + ", "
        + ex(pats["canonical_hf"]) + ", "
        + ex(pats["canonical_hf_sq"]) + ") AS canonical "
        + "FROM (" + _html_build_sql() + ")"
    )


def q_html_anchors(spark, sf_dir):
    """Anchor-pair extraction (pipeline/web.py html_anchors — NEW
    r16): (href, anchor_text) per link — the labeled crawl-graph edge
    list (anchor text is the classic relevance signal for the target
    page). Both quoting styles are in the fixture (the template's two
    links). The oracle zips the same two regexp_extract_all groups
    positionally (DuckDB's parallel unnest == Spark's arrays_zip)."""
    from lotad_spark.pipeline.web import html_anchors

    return html_anchors(_doc_html_frame(spark, sf_dir), "html")


def _html_anchors_sql() -> str:
    from lotad_spark.pipeline.web import HTML_ANCHOR_PATTERNS

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    hrefs = " || ".join(
        f"regexp_extract_all(html, {q(p)}, 1)"
        for p in HTML_ANCHOR_PATTERNS
    )
    texts = " || ".join(
        f"regexp_extract_all(html, {q(p)}, 2)"
        for p in HTML_ANCHOR_PATTERNS
    )
    return (
        "SELECT doc_id, unnest(" + hrefs + ") AS href, "
        "unnest(" + texts + ") AS anchor_text FROM ("
        + _html_build_sql() + ")"
    )


def q_html_tables(spark, sf_dir):
    """Table extraction (pipeline/web.py html_tables — NEW r16): per
    (table, row) cell lists from three nested lazy patterns, all JVM
    — the structured-extraction grain for table-QA / table-to-text
    data. The template's table carries a TH header row, raw inner
    markup, a raw entity, and a doc_id-varying cell; the oracle
    replays the same nested extraction with DuckDB list_transform +
    two positional parallel unnests."""
    from lotad_spark.pipeline.web import html_tables

    return html_tables(_doc_html_frame(spark, sf_dir), "html")


def _html_tables_sql() -> str:
    from lotad_spark.pipeline.web import (
        HTML_CELL_RE,
        HTML_CELL_SEP,
        HTML_TABLE_RE,
        HTML_TR_RE,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    nested = (
        f"list_transform(regexp_extract_all(html, {q(HTML_TABLE_RE)}, 1), "
        f"t -> list_transform(regexp_extract_all(t, {q(HTML_TR_RE)}, 1), "
        f"r -> regexp_extract_all(r, {q(HTML_CELL_RE)}, 1)))"
    )
    return (
        "SELECT doc_id, CAST(ti AS INT) AS table_idx, "
        "CAST(ri AS INT) AS row_idx, "
        "CAST(len(cl) AS INT) AS n_cells, "
        f"array_to_string(cl, chr({ord(HTML_CELL_SEP)})) AS cells FROM ("
        "SELECT doc_id, ti, unnest(rt) AS cl, "
        "unnest(range(0, len(rt))) AS ri FROM ("
        f"SELECT doc_id, unnest({nested}) AS rt, "
        f"unnest(range(0, len({nested}))) AS ti FROM ("
        + _html_build_sql() + ")))"
    )


def q_warc_ingest(spark, sf_dir):
    """The crawl-to-training-text chain end-to-end (NEW r14): the
    template HTML of every document lands in WARC files — one plain,
    one per-record-gzip .warc.gz, so BOTH layouts are in the checked
    rows — read back through sources/warc.py read_warc (binaryFile
    scan → Arrow mapInPandas framing parse: version line, CRLF
    headers, byte-exact Content-Length, warcinfo records skipped by
    type), the HTTP envelope peeled by warc_http_text (JVM
    expressions), and the body through the html_text_expr chain.
    The oracle derives (target_uri, text) straight from the documents
    table via the shared HTML-template + extraction-chain SQL — a
    framing bug (off-by-one lengths, wrong member boundaries, header
    misparse) changes rows and hash-mismatches. Synthesis-only driver
    collect, bounded by the fixture corpus (the operator itself is a
    distributed binaryFile scan)."""
    import os

    from lotad_spark.pipeline.web import html_text_expr
    from lotad_spark.sources.warc import (
        read_warc,
        warc_http_text,
        write_warc_file,
    )

    docs = sorted(
        _t(spark, sf_dir, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    )
    d = _scratch("lotad_warc_")
    recs = []
    for raw in docs:
        doc_id = raw.doc_id
        doc_html = _doc_html_py(doc_id, raw.text)
        uri = f"https://example.com/doc/{doc_id}"
        # exercise the charset decode and the envelope-separator
        # fallbacks IN the checked row: every 3rd cp1252-encodable doc
        # ships as windows-1252 bytes (decode-back == the template
        # text, so the oracle replay is unchanged), every 7th with the
        # MIXED envelope (LF header lines, CRLF blank — the r15
        # review-caught form), every 5th LF-only; every 11th+3 doc
        # carries an injected CJK paragraph and ships in that family's
        # encoding (r16 — Shift_JIS/EUC-JP/GBK/EUC-KR/Big5 decode;
        # non-encodable docs fall back to label-less UTF-8 bytes of
        # the SAME injected html, so the oracle injects
        # unconditionally)
        if doc_id % 7 == 0:
            nl, blank = "\n", "\r\n"
        elif doc_id % 5 == 0:
            nl, blank = "\n", "\n"
        else:
            nl, blank = "\r\n", "\r\n"
        html, cjk_label, cjk_codec = _warc_inject_cjk(doc_id, doc_html)
        if cjk_label:
            try:
                recs.append(
                    (
                        uri,
                        f"text/html; charset={cjk_label}",
                        html.encode(cjk_codec),
                        nl,
                        blank,
                    )
                )
            except UnicodeEncodeError:
                recs.append(
                    (uri, "text/html", html.encode("utf-8"), nl, blank)
                )
            continue
        if doc_id % 3 == 0:
            try:
                recs.append(
                    (
                        uri,
                        "text/html; charset=windows-1252",
                        html.encode("cp1252"),
                        nl,
                        blank,
                    )
                )
                continue
            except UnicodeEncodeError:
                pass
        recs.append(
            (uri, "text/html", html.encode("utf-8"), nl, blank)
        )
    # 8 shards, alternating plain/.warc.gz — scan parallelism is the
    # FILE count with this source, so the synthesis mirrors how a
    # real crawl shards (and both layouts stay in the checked rows)
    n_shards = 8
    for s in range(n_shards):
        shard = recs[s::n_shards]
        if not shard:
            continue
        if s % 2:
            write_warc_file(
                shard,
                os.path.join(d, f"part{s}.warc.gz"),
                gzip_members=True,
            )
        else:
            write_warc_file(shard, os.path.join(d, f"part{s}.warc"))
    parsed = warc_http_text(read_warc(spark, d)).filter(
        F.col("warc_type") == "response"
    )
    return parsed.select(
        "target_uri", html_text_expr(F.col("body")).alias("text")
    )


def q_canonical_url_dedup(spark, sf_dir):
    """Declared-canonical dedup (pipeline/urls.py canonical_url_dedup
    — NEW r17): the composition the html_meta rel=canonical column
    exists FOR — group pages by canonical target (own-URL fallback
    when absent) and keep the min id, collapsing mirror/AMP families
    before any content hashing. Fixture: every 10th doc gains a
    MIRROR page (doc_id+100000, different own URL, byte-identical
    html → same canonical); every 7th+3 doc's canonical link is
    stripped (the fallback path — its mirror lands in a SEPARATE
    own-URL group, exactly the un-collapsible case). The oracle
    derives every group by doc_id arithmetic."""
    from lotad_spark.pipeline.urls import canonical_url_dedup
    from lotad_spark.pipeline.web import html_meta

    pages = _doc_html_frame(spark, sf_dir)
    # strip the canonical link from every 7th+3 doc (literal-pattern
    # rewrite both engines replay)
    stripped = F.when(
        F.col("doc_id") % 7 == 3,
        F.regexp_replace(
            "html",
            '<link rel="canonical" href="https://example\\.com/canon/'
            '[0-9]+">',
            "",
        ),
    ).otherwise(F.col("html"))
    pages = pages.select("doc_id", stripped.alias("html"))
    mirrors = pages.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    allp = pages.unionByName(mirrors)
    meta = html_meta(allp, "html").select(
        "doc_id",
        F.concat(
            F.lit("https://example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "canonical",
    )
    return canonical_url_dedup(meta)


_CANONICAL_URL_DEDUP_SQL = (
    "WITH d AS (SELECT doc_id AS did FROM documents), g AS ("
    "SELECT 'https://example.com/canon/' || CAST(did AS VARCHAR) "
    "AS canonical_url, "
    "CAST(CASE WHEN did % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) "
    "AS n_pages, did AS keeper FROM d WHERE did % 7 != 3 "
    "UNION ALL "
    "SELECT 'https://example.com/doc/' || CAST(did AS VARCHAR), "
    "CAST(1 AS BIGINT), did FROM d WHERE did % 7 = 3 "
    "UNION ALL "
    "SELECT 'https://example.com/doc/' || CAST(did + 100000 AS VARCHAR), "
    "CAST(1 AS BIGINT), did + 100000 FROM d "
    "WHERE did % 7 = 3 AND did % 10 = 0) "
    "SELECT canonical_url, n_pages, "
    "CAST(keeper AS BIGINT) AS keeper_doc_id FROM g"
)


def q_http_unwrap(spark, sf_dir):
    """HTTP wire-decoding ingest (sources/warc.py warc_http_unwrap +
    unwrapped_body_text — NEW r17): real crawls store bodies AS SENT,
    so Transfer-Encoding: chunked framing and Content-Encoding:
    gzip/deflate compression sit between the WARC payload and the
    text — decodings the pure-JVM envelope peel cannot express. The
    fixture ships every doc's template HTML with did%3 cycling
    gzip (wbits-31 member, mtime 0) / identity / zlib-deflate, did%4==0
    additionally chunk-framed (chunking applied LAST, per the RFC
    layering), and did%9==4 labeled with the unsupported 'br' coding —
    whose body must come back NULL with the label intact (loud
    absence, never garbage text). The oracle rebuilds the HTML from
    the shared template and derives the labels/NULLs by arithmetic —
    a de-chunk or inflate bug changes the text bytes and
    hash-mismatches."""
    parsed = _http_unwrap_fixture_frame(spark, sf_dir).filter(
        F.col("warc_type") == "response"
    )
    return parsed.select(
        "target_uri",
        "http_content_encoding",
        "http_transfer_encoding",
        "text",
    )


def _http_unwrap_fixture_frame(spark, sf_dir):
    """Shared fixture for the http_unwrap and http_encoding_counts
    rows: every doc's template HTML wrapped in an HTTP response with
    did-arithmetic codings (see q_http_unwrap), WARC-sharded, read
    back and unwrapped. Returns the full unwrapped frame including
    warc_type."""
    import gzip as _gzip
    import os
    import zlib

    from lotad_spark.sources.warc import (
        read_warc,
        unwrapped_body_text,
        warc_http_unwrap,
        write_warc_file,
    )

    docs = sorted(
        _t(spark, sf_dir, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    )
    d = _scratch("lotad_httpunwrap_")

    def chunked(b: bytes) -> bytes:
        out = b""
        for i in range(0, len(b), 100):
            c = b[i : i + 100]
            out += f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n"
        return out + b"0\r\n\r\n"

    recs = []
    for raw in docs:
        did = raw.doc_id
        uri = f"https://example.com/doc/{did}"
        body = _doc_html_py(did, raw.text).encode("utf-8")
        extras = []
        if did % 9 == 4:
            extras.append(("Content-Encoding", "br"))
        elif did % 3 == 0:
            body = _gzip.compress(body, 9, mtime=0)
            extras.append(("Content-Encoding", "gzip"))
        elif did % 3 == 2:
            body = zlib.compress(body)
            extras.append(("Content-Encoding", "deflate"))
        if did % 4 == 0:
            body = chunked(body)
            extras.append(("Transfer-Encoding", "chunked"))
        recs.append((uri, "text/html", body, "\r\n", "\r\n", extras))
    for s in range(4):
        shard = recs[s::4]
        if s % 2:
            write_warc_file(
                shard, os.path.join(d, f"p{s}.warc.gz"),
                gzip_members=True,
            )
        else:
            write_warc_file(shard, os.path.join(d, f"p{s}.warc"))
    return unwrapped_body_text(warc_http_unwrap(read_warc(spark, d)))


def q_http_encoding_counts(spark, sf_dir):
    """HTTP wire-coding telemetry (sources/warc.py
    http_encoding_counts — NEW r18): per-(content_encoding,
    transfer_encoding, decoded) counts over the same WARC fixture as
    http_unwrap — the decode_tier_counts analogue for the wire, and
    the instrument behind the brotli go/no-go (SCALING.md r18): the
    (br, decoded=false) row IS the measured share a brotli inflate
    would recover. One bounded-key shuffle of label pairs; the oracle
    derives every label and the decoded flag from doc_id
    arithmetic."""
    from lotad_spark.sources.warc import http_encoding_counts

    unwrapped = _http_unwrap_fixture_frame(spark, sf_dir)
    return http_encoding_counts(
        unwrapped.filter(F.col("warc_type") == "response")
    )


_HTTP_ENCODING_COUNTS_SQL = (
    "SELECT content_encoding, transfer_encoding, decoded, "
    "COUNT(*) AS n FROM ("
    "SELECT CASE WHEN doc_id % 9 = 4 THEN 'br' "
    "WHEN doc_id % 3 = 0 THEN 'gzip' "
    "WHEN doc_id % 3 = 2 THEN 'deflate' "
    "ELSE 'identity' END AS content_encoding, "
    "CASE WHEN doc_id % 4 = 0 THEN 'chunked' ELSE 'none' END "
    "AS transfer_encoding, "
    "doc_id % 9 <> 4 AS decoded FROM documents"
    ") GROUP BY content_encoding, transfer_encoding, decoded"
)


def _http_unwrap_sql() -> str:
    return (
        "SELECT 'https://example.com/doc/' || CAST(doc_id AS VARCHAR) "
        "AS target_uri, "
        "CASE WHEN doc_id % 9 = 4 THEN 'br' "
        "WHEN doc_id % 3 = 0 THEN 'gzip' "
        "WHEN doc_id % 3 = 2 THEN 'deflate' "
        "ELSE NULL END AS http_content_encoding, "
        "CASE WHEN doc_id % 4 = 0 THEN 'chunked' ELSE NULL END "
        "AS http_transfer_encoding, "
        "CASE WHEN doc_id % 9 = 4 THEN NULL ELSE html END AS text "
        "FROM (" + _html_build_sql() + ")"
    )


def q_wet_ingest(spark, sf_dir):
    """WET ingestion (sources/warc.py read_wet / write_wet_file — NEW
    r16): the Common Crawl pre-extracted-text sidecar, WARC
    ``conversion`` records with UTF-8 payloads and no HTTP envelope —
    the most common raw input of an LLM text pipeline. Every doc's
    text (every 4th with a multi-byte UTF-8 suffix so the reinterpret
    is exercised beyond ASCII) lands in 6 WET shards alternating
    plain/.warc.gz, reads back through the same framing parse as
    warc_ingest, and must round-trip byte-exactly; warcinfo records
    drop by type. Synthesis-only driver collect, bounded by the
    fixture corpus (the operator is a distributed binaryFile scan)."""
    import os

    from lotad_spark.sources.warc import read_wet, write_wet_file

    docs = sorted(
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )
    d = _scratch("lotad_wet_")
    recs = []
    for r in docs:
        text = r.text or ""
        if r.doc_id % 4 == 1:
            text += " — résumé 中文 ✓"
        recs.append((f"https://example.com/doc/{r.doc_id}", text))
    n_shards = 6
    for s in range(n_shards):
        shard = recs[s::n_shards]
        if not shard:
            continue
        if s % 2:
            write_wet_file(
                shard,
                os.path.join(d, f"part{s}.warc.gz"),
                gzip_members=True,
            )
        else:
            write_wet_file(shard, os.path.join(d, f"part{s}.warc"))
    return read_wet(spark, d).select(
        "target_uri", "text", "n_bytes"
    )


_WET_INGEST_SQL = (
    "SELECT 'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS "
    "target_uri, t AS text, CAST(octet_length(encode(t)) AS INT) "
    "AS n_bytes FROM (SELECT doc_id, CASE WHEN doc_id % 4 = 1 THEN "
    "coalesce(text, '') || ' — résumé 中文 ✓' ELSE coalesce(text, '') "
    "END AS t FROM documents)"
)


def q_wat_links(spark, sf_dir):
    """WAT link-graph extraction (sources/warc.py read_wat /
    wat_links — NEW r16): the Common Crawl metadata sidecar parsed
    JVM-side with from_json against the envelope layout — the crawl
    graph at ~1/10 the bytes of WARC, no page-body re-parse. Each doc
    gets doc_id%3+1 links (urls derived from doc_id) in a realistic
    nested envelope with sibling fields from_json must skip; every
    7th doc's JSON is truncated garbage and must contribute NO rows
    (the malformed-JSON honesty path). Synthesis-only driver collect,
    bounded by the fixture corpus."""
    import json as _json
    import os

    from lotad_spark.sources.warc import read_wat, wat_links, write_wat_file

    ids = sorted(
        r.doc_id
        for r in _t(spark, sf_dir, "documents").select("doc_id").collect()
    )
    d = _scratch("lotad_wat_")
    recs = []
    for did in ids:
        uri = f"https://example.com/doc/{did}"
        if did % 7 == 2:
            recs.append((uri, '{"Envelope": {"Payload-Metad'))
            continue
        links = [
            {"path": "A@/href",
             "url": f"https://example.com/doc/{did * 10 + i}"}
            for i in range(did % 3 + 1)
        ]
        meta = {
            "Container": {"Filename": f"part{did % 6}.warc"},
            "Envelope": {
                "WARC-Header-Metadata": {"WARC-Target-URI": uri},
                "Payload-Metadata": {
                    "Actual-Content-Type": "application/http; msgtype=response",
                    "HTTP-Response-Metadata": {
                        "Headers": {"Content-Type": "text/html"},
                        "HTML-Metadata": {"Links": links},
                    },
                },
            },
        }
        recs.append((uri, _json.dumps(meta)))
    n_shards = 6
    for s in range(n_shards):
        shard = recs[s::n_shards]
        if not shard:
            continue
        if s % 2:
            write_wat_file(
                shard, os.path.join(d, f"part{s}.warc.gz"),
                gzip_members=True,
            )
        else:
            write_wat_file(shard, os.path.join(d, f"part{s}.warc"))
    return wat_links(read_wat(spark, d))


_WAT_LINKS_SQL = (
    "SELECT 'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS "
    "target_uri, 'https://example.com/doc/' || "
    "CAST(doc_id * 10 + i AS VARCHAR) AS url, 'A@/href' AS path "
    "FROM (SELECT doc_id, unnest(range(0, CAST(doc_id % 3 + 1 AS INT)))"
    " AS i FROM documents WHERE doc_id % 7 != 2)"
)


# Per-domain REP rules for the robots row — engineered so every
# longest-match case lands in the fixture id range: /d/1 vs /d/12 vs
# /d/123 nest (disallow/allow/disallow), b.com disallows everything
# except /d/2-prefixed and 5-terminated paths, and the RFC 9309
# wildcard forms all interact with the prefixes: `/*4$` (end-anchored
# star) ties allow `/d/12` at length 5 on /d/124 (allow wins), beats
# `/d/1`/`/d/3`/`/d/6` on 4-terminated paths; `/d/*8` (mid-pattern
# star, length 6) out-specifies every length-≤5 disallow incl. on
# /x-suffixed paths; `/d/6$` (anchor, no star) admits exactly /d/6
# while `/d/6` blocks /d/60... — r14's prefix-only matcher fails OPEN
# on all of these, which is what this row now pins.
_ROBOTS_RULES = (
    ("a.com", "disallow", "/d/1"),
    ("a.com", "allow", "/d/12"),
    ("a.com", "disallow", "/d/123"),
    ("a.com", "disallow", "/d/3"),
    ("a.com", "disallow", "/*4$"),
    ("a.com", "allow", "/d/*8"),
    ("a.com", "disallow", "/d/6"),
    ("a.com", "allow", "/d/6$"),
    ("a.com", "disallow", "/*?"),
    ("b.com", "disallow", "/"),
    ("b.com", "allow", "/d/2"),
    ("b.com", "allow", "/d/*5$"),
)


def q_robots_gate(spark, sf_dir):
    """Robots Exclusion Protocol gate (pipeline/web.py robots_filter —
    NEW r14, RFC 9309 wildcards r15): per-domain allow/disallow rules
    decide each URL by the RFC's most-specific-match rule (most
    pattern octets wins; ties → allow; no match → allow), with full
    ``*``/trailing-``$`` wildcard semantics — plain prefixes stay on
    startswith, wildcard rules compile once per RULE to an anchored
    regex. The corpus never shuffles: rules collapse to one
    array-valued row per domain, broadcast-join, and the winner folds
    inside the projection with higher-order array functions. The
    oracle replays host/path derivation, prefix AND regex matching
    (wildcard regexes as literals from the pytest-pinned
    rule_to_regex), and the longest-match/tie ranking over the same
    literal rules via a SQL window — any precedence or translation
    bug flips booleans and hash-mismatches.
    (robots.txt PARSING — group semantics, comments, empty Disallow —
    is driver-side by design, bounded by domains, pytest-pinned:
    the load_psl precedent.)"""
    from lotad_spark.pipeline.web import robots_filter

    d = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("a.com")).otherwise(
            F.lit("b.com")
        ),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("/x")).otherwise(
            F.lit("")
        ),
        # query-bearing URLs exercise the RFC path+query match target
        # (the `/*?` rule blocks them on a.com unless a longer allow —
        # /d/*8 — out-specifies it)
        F.when(F.col("doc_id") % 5 == 0, F.lit("?ref=1")).otherwise(
            F.lit("")
        ),
    )
    urls = d.select("doc_id", url.alias("url"))
    rules = bounded_local_df(spark, 
        list(_ROBOTS_RULES),
        "domain string, rule_type string, path_prefix string",
    )
    return robots_filter(urls, rules).select(
        "doc_id", "url", "robots_allowed"
    )


def _robots_gate_sql() -> str:
    # wildcard rules carry their RFC 9309 regex translation as a
    # LITERAL (computed by the same public rule_to_regex the pytest
    # third-engine replay pins against Python `re`); Spark builds its
    # regex independently via the rule_regex_expr JVM chain, so a
    # translation bug in either engine hash-mismatches here
    from lotad_spark.pipeline.web import rule_to_regex

    vals = ", ".join(
        "('{}', '{}', '{}', {}, '{}')".format(
            d,
            t,
            p,
            "TRUE" if ("*" in p or p.endswith("$")) else "FALSE",
            rule_to_regex(p),
        )
        for d, t, p in _ROBOTS_RULES
    )
    return (
        "WITH u AS (SELECT doc_id, "
        "CASE WHEN doc_id % 2 = 0 THEN 'a.com' ELSE 'b.com' END "
        "AS domain, "
        "'/d/' || CAST(doc_id AS VARCHAR) || "
        "CASE WHEN doc_id % 7 = 0 THEN '/x' ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN '?ref=1' ELSE '' END AS path "
        "FROM documents), "
        "r(domain, rule_type, path_prefix, wild, rx) AS "
        "(VALUES " + vals + "), "
        "m AS (SELECT u.doc_id, u.domain, u.path, r.rule_type, "
        "r.path_prefix FROM u LEFT JOIN r ON u.domain = r.domain "
        "AND (CASE WHEN r.wild THEN regexp_matches(u.path, r.rx) "
        "ELSE starts_with(u.path, r.path_prefix) END)), "
        "k AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY length(path_prefix) DESC, "
        "CASE WHEN rule_type = 'allow' THEN 0 ELSE 1 END) AS rk "
        "FROM m) "
        "SELECT doc_id, 'https://' || domain || path AS url, "
        "(rule_type IS NULL OR rule_type = 'allow') AS robots_allowed "
        "FROM k WHERE rk = 1"
    )


# Per-domain Crawl-delay for the crawl_budget row, micro-seconds
# (integer micro-units, the gopher_rules discipline). b.com has NO
# delay line — the NULL path.
_CRAWL_DELAYS_MICROS = {"a.com": 2_500_000}


def _robots_body(domain: str) -> str:
    """A realistic robots.txt body whose ``*``-group rules parse back
    to EXACTLY that domain's _ROBOTS_RULES rows (a leading non-star
    group, comments, an empty Disallow, the Crawl-delay line for
    a.com) — so the crawl_budget row oracle-checks parse_robots and
    parse_crawl_delay end-to-end: a grouping/comment/BOM bug changes
    the parsed rules, flips gate booleans, and hash-mismatches."""
    lines = [
        "﻿# robots.txt for " + domain,
        "User-agent: SpecificBot",
        "Disallow: /only-for-specificbot",
        "",
        "User-agent: *",
        "Disallow:   # empty value: allow everything, no rule",
    ]
    if domain in _CRAWL_DELAYS_MICROS:
        lines.append(
            f"Crawl-delay: {_CRAWL_DELAYS_MICROS[domain] / 1e6}"
        )
    for d, rule_type, pat in _ROBOTS_RULES:
        if d == domain:
            lines.append(f"{rule_type.capitalize()}: {pat} # r")
    return "\n".join(lines) + "\n"


def q_crawl_budget(spark, sf_dir):
    """Crawl scheduling (NEW r16): robots.txt BODIES → parse_robots +
    parse_crawl_delay (driver-side, domain-bounded — the load_psl
    precedent) → robots_filter over the same URL corpus as
    robots_gate → per-domain (n_urls, n_allowed, crawl_delay_micros,
    est_crawl_micros = n_allowed × delay). This is the first row that
    value-checks the robots PARSER: the oracle's rules are the
    _ROBOTS_RULES literals, so if parsing the synthesized bodies
    (non-star leading group, comments, empty Disallow, BOM) yields
    anything else, the gate booleans flip and the hash mismatches."""
    from lotad_spark.pipeline.web import (
        parse_crawl_delay,
        parse_robots,
        robots_filter,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("a.com")).otherwise(
            F.lit("b.com")
        ),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("/x")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?ref=1")).otherwise(
            F.lit("")
        ),
    )
    urls = d.select("doc_id", url.alias("url"))
    rule_rows = []
    delays = {}
    for domain in ("a.com", "b.com"):
        body = _robots_body(domain)
        for rule_type, pat in parse_robots(body):
            rule_rows.append((domain, rule_type, pat))
        delay = parse_crawl_delay(body)
        delays[domain] = (
            None if delay is None else int(round(delay * 1_000_000))
        )
    rules = bounded_local_df(spark, 
        rule_rows, "domain string, rule_type string, path_prefix string"
    )
    gated = robots_filter(urls, rules)
    delay_col = F.when(
        F.col("domain") == "a.com",
        F.lit(delays["a.com"]).cast("long"),
    ).otherwise(F.lit(delays["b.com"]).cast("long"))
    return (
        gated.select(
            F.regexp_extract("url", "^https://([^/]+)", 1).alias(
                "domain"
            ),
            F.col("robots_allowed").cast("int").alias("_a"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum("_a").cast("long").alias("n_allowed"),
        )
        .select(
            "domain",
            "n_urls",
            "n_allowed",
            delay_col.alias("crawl_delay_micros"),
            (F.col("n_allowed") * delay_col).cast("long").alias(
                "est_crawl_micros"
            ),
        )
    )


def _crawl_budget_sql() -> str:
    return (
        "SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls, "
        "CAST(SUM(CASE WHEN robots_allowed THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_allowed, "
        "CASE WHEN domain = 'a.com' THEN CAST(2500000 AS BIGINT) END "
        "AS crawl_delay_micros, "
        "CASE WHEN domain = 'a.com' THEN "
        "CAST(SUM(CASE WHEN robots_allowed THEN 1 ELSE 0 END) "
        "* 2500000 AS BIGINT) END AS est_crawl_micros FROM ("
        "SELECT regexp_extract(url, '^https://([^/]+)', 1) AS domain, "
        "robots_allowed FROM (" + _robots_gate_sql() + ")) "
        "GROUP BY domain"
    )


def q_html_extract(spark, sf_dir):
    """WET-style HTML→text extraction (pipeline/web.py html_to_text —
    NEW r14): one JVM regexp chain (script/style/comment containers
    drop WITH content, block tags become newlines, remaining tags
    strip, named entities decode single-pass with &amp; last,
    whitespace folds). Every pattern is written to the common
    Java-regex/RE2 subset (no backreferences, no \\s) and the oracle
    regenerates the identical chain in SQL from the same module
    constants over the same template-built HTML — so the extraction
    semantics are value-checked byte-for-byte, including the stray
    '<' and '</div>' INSIDE the script block that a naive tag-stripper
    would leak."""
    from lotad_spark.pipeline.web import html_to_text

    return html_to_text(_doc_html_frame(spark, sf_dir))


def q_html_links(spark, sf_dir):
    """Link extraction from raw HTML (pipeline/web.py extract_links —
    NEW r14): one projection + explode over regexp_extract_all of
    single- or double-quoted hrefs; the inlet of the URL ladder
    (canonicalize_url → url_dedup → domain_stats). Oracle replays the
    same pattern via DuckDB regexp_extract_all/unnest."""
    from lotad_spark.pipeline.web import extract_links

    return extract_links(_doc_html_frame(spark, sf_dir))


def q_text_stats(spark, sf_dir):
    from lotad_spark.pipeline import text_stats

    return text_stats(_t(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    from lotad_spark.pipeline import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_text_lang_id(spark, sf_dir):
    from lotad_spark.pipeline import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_text_fingerprints(spark, sf_dir):
    from lotad_spark.pipeline import bow_fingerprint, normalized_fingerprint

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        normalized_fingerprint("text").alias("fp_norm"),
        bow_fingerprint("text").alias("fp_bow"),
    )


def q_corpus_filter(spark, sf_dir):
    """End-to-end training-data gate: lang + quality + token bounds."""
    from lotad_spark.pipeline.text import corpus_filter

    return corpus_filter(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.round("quality", 6).alias("quality"), "n_tokens"
    )


def q_text_winnow_fp(spark, sf_dir):
    from lotad_spark.pipeline.text import winnow_fingerprint

    return _t(spark, sf_dir, "documents").select(
        "doc_id", winnow_fingerprint("text").alias("winnow_fp")
    )


def q_text_repetition(spark, sf_dir):
    from lotad_spark.pipeline import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction proven on content that HAS PII: each document gets a
    deterministic synthetic contact line (email + IPv4 + phone derived
    from doc_id) appended, then scrubbed; the oracle builds the same
    augmented text and applies the same RE2/Java-portable patterns, so a
    hash match proves every span was found and replaced identically."""
    from lotad_spark.pipeline import pii_scrub

    d = F.col("doc_id")
    aug = _t(spark, sf_dir, "documents").select(
        d,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com from "),
            F.lit("10.0."),
            (d % 256).cast("string"),
            F.lit(".7 call +1 555 01"),
            (d % 89).cast("string"),
            F.lit("9"),
        ).alias("text"),
    )
    return pii_scrub(aug)


def q_dedup_exact(spark, sf_dir):
    from lotad_spark.pipeline import exact_dedup

    return exact_dedup(_dup_corpus(spark, sf_dir))


def q_dedup_near_minhash(spark, sf_dir):
    from lotad_spark.pipeline import near_dup_pairs

    return near_dup_pairs(_near_dup_corpus(spark, sf_dir), threshold=0.6)


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Standalone exact n-gram Jaccard over a deterministic candidate set
    (every 10th doc paired with its successor) — the verification kernel of
    the MinHash path, oracle-checked in isolation."""
    from lotad_spark.pipeline.dedup import ngram_jaccard, shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ids = docs.select("doc_id")
    pairs = (
        ids.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    sh = shingles(docs)
    return ngram_jaccard(pairs, sh).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_components(spark, sf_dir):
    """Transitive dedup groups over the MinHash near-dup pairs — the
    keep/drop list (keep doc_id == component_id). Oracle: recursive-CTE
    transitive closure over the same pair set."""
    from lotad_spark.pipeline import dedup_components, near_dup_pairs

    pairs = near_dup_pairs(_near_dup_corpus(spark, sf_dir), threshold=0.6)
    return dedup_components(pairs)




def q_span_index_probe(spark, sf_dir):
    """Ingestion-time span dedup: persist the base corpus's gram counts
    once (write_span_index — 16-byte keys, no text), then find the new
    batch's duplicated spans against corpus ∪ batch without re-reading
    the corpus. Oracle: the batch operator over the union, restricted
    to batch documents — the incremental path must be bit-equal."""
    from lotad_spark.pipeline.spandedup import (
        duplicate_spans_against_index,
        write_span_index,
    )

    idx_dir = _scratch("lotad_spanidx_") + "/index"
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    write_span_index(base, idx_dir, n=6)
    batch = (
        base.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz tail words")))
    )
    return duplicate_spans_against_index(batch, idx_dir, n=6)


def q_contamination_spans(spark, sf_dir):
    """Span-level decontamination: WHERE eval-set n-grams appear inside
    training docs (not just which docs overlap) — eval gram keys
    broadcast against the train-side positional grams, shared islands
    merge. The output feeds strip_duplicate_spans(spans=...) for
    surgical removal."""
    from lotad_spark.pipeline.spandedup import contamination_spans

    return contamination_spans(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        _eval_snippets(spark, sf_dir),
        n=6,
    )


def q_strip_dup_spans(spark, sf_dir):
    """Span-stripped rewrite of the near-dup corpus: duplicated passages
    removed, untouched documents byte-identical. The oracle rebuilds the
    kept-token text with the same single-space join — its CTE chain
    starts with the full span-detection replay (_SPAN_CTES_SQL), which
    is why the retired dup_spans row (r13 consolidation) lost no
    coverage: this row runs detection AND the rewrite."""
    from lotad_spark.pipeline.spandedup import strip_duplicate_spans

    return strip_duplicate_spans(_near_dup_corpus(spark, sf_dir), n=6)


def q_multi_grain_cube(spark, sf_dir):
    """All four grains of (hour bucket × event_type) in one pass —
    Spark's Expand replicates rows map-side and partial aggregation
    collapses them before the SINGLE exchange; grand totals, bucket
    totals, and type totals ride the same shuffle as the base grain."""
    from lotad_spark.operators.rollup import multi_grain_report

    return multi_grain_report(_t(spark, sf_dir, "events"), grain="cube")


def q_temperature_rates(spark, sf_dir):
    """Temperature (α=0.5) mixture rates over the skewed language
    distribution — the multilingual-training resampling computation;
    one corpus count agg, then arithmetic on the 5-row lang relation
    (decimal-exact sums, broadcast 1-row totals)."""
    from lotad_spark.pipeline import temperature_rates

    return temperature_rates(
        _t(spark, sf_dir, "documents"), source_col="lang", alpha=0.5
    )


def q_canonical_keep(spark, sf_dir):
    """Merit-based survivor per duplicate cluster: the LONGEST member
    wins (ties to smallest id) instead of dedup_components' arbitrary
    min-id — the keep-list a production pipeline actually ships. One
    join + one per-component rank window over the components relation."""
    from lotad_spark.pipeline import dedup_components, near_dup_pairs
    from lotad_spark.pipeline.dedup import canonical_docs

    corpus = _near_dup_corpus(spark, sf_dir)
    comps = dedup_components(near_dup_pairs(corpus, threshold=0.6))
    scores = corpus.select(
        "doc_id", F.length("text").cast("bigint").alias("text_len")
    )
    return canonical_docs(comps, scores, "text_len")




# (the former bpe_merges registry row was consolidated into apply_bpe
# per the r10 plan: apply_bpe's oracle replays the identical fixed-depth
# merge-training CTE unroll — _bpe_training_ctes — and tests/test_bpe.py
# pins the merge table against an independent reference implementation)




def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash hamming pairing over the near-dup corpus: banding recall is
    exact for hamming ≤ bands−1 = 3 (pigeonhole), mirrored in the oracle.
    Also the sole registry face of the simhash32 kernel since the r13
    consolidation (the oracle replays per-doc fingerprints via the same
    CTEs the retired dedup_simhash row used; unicode-input behavior
    stays pinned by tests/test_pipeline.py)."""
    from lotad_spark.pipeline import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_near_dup_corpus(spark, sf_dir)).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_sample_hash(spark, sf_dir):
    """Deterministic Bernoulli sample (rate 0.25) keyed on md5(id) — same
    rows on every run/partitioning/engine; pure scan-side filter."""
    from lotad_spark.pipeline import hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_sample(docs, 0.25)


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (A-ES): 50 docs drawn with
    probability ∝ length from a hash-derived uniform — deterministic, so
    the oracle replays the exact priorities in SQL. Top-k runs as
    per-partition heaps (TakeOrderedAndProject), never a global sort."""
    from lotad_spark.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(
        docs, 50, id_col="doc_id", weight_col="n_chars", salt="wsamp"
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance resampling (hashed-ngram log-ratio weights +
    Gumbel top-k selection) with the English subset as the in-domain
    target: (doc_id, n_grams, weight, selected). Bucket models are
    bounded at 4096 rows and broadcast; per-document sums are decimal-
    exact; the top-100 flag joins back via a broadcast semi of the
    TakeOrderedAndProject result — the corpus never globally sorts."""
    from pyspark.sql import functions as F

    from lotad_spark.pipeline import dsir_resample, dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # The weight relation feeds the Gumbel top-k AND the output join;
    # unshared, the whole featurize+score DAG runs twice (the r18-before
    # plan read 4 scans / 25 exchanges). One narrow row per doc — share
    # it via the lazy localCheckpoint.
    w = dsir_weights(docs, docs.filter(F.col("lang") == "en")).localCheckpoint(
        eager=False
    )
    sel = (
        dsir_resample(w, 100)
        .select("doc_id")
        .withColumn("selected", F.lit(True))
    )
    return w.join(F.broadcast(sel), "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "weight",
        F.coalesce("selected", F.lit(False)).alias("selected"),
    )


def q_train_eval_split(spark, sf_dir):
    """Hash-keyed train/eval split: a doc keeps its split forever (across
    runs and corpus growth) — the property that prevents eval leakage."""
    from lotad_spark.pipeline import train_eval_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return train_eval_split(docs, eval_rate=0.1)


def q_stratified_cap(spark, sf_dir):
    """Per-source cap (≤50 docs/source, uniform hash priority) — the
    anti-domination cap; WindowGroupLimit keeps it map-side partial."""
    from lotad_spark.pipeline import stratified_cap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_cap(docs, "source", 50)


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_UPSAMPLE_WEIGHTS = {"src0": 2.3, "src1": 0.5}


def q_mixture_sample(spark, sf_dir):
    """Per-source data-mixture sampling: keep all of src0, half of src1,
    a quarter of src2, 10% of everything else — one hash-keyed CASE
    filter on the scan, zero shuffles."""
    from lotad_spark.pipeline import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample(docs, _MIX_RATES, default_rate=0.1)


def q_upsample_weights(spark, sf_dir):
    """Weighted repetition (weight 2.3 → 2 copies + deterministic 30%
    third copy): expected multiplicity = the mixture weight, realized
    set exactly reproducible; epoch column spreads copies across the
    training order."""
    from lotad_spark.pipeline import upsample_by_weight

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return upsample_by_weight(docs, _UPSAMPLE_WEIGHTS)


def q_shuffle_batches(spark, sf_dir):
    """Deterministic epoch shuffle + fixed-size batching via the bucketed
    two-phase global rank (no single-partition window)."""
    from lotad_spark.pipeline import shuffle_batches

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_batches(docs, 64)


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector int8 scalar quantization of the embedding column — 4×
    index compression as a stateless one-pass projection.

    The library operator returns ``qvec`` as ``array<int>``; the driver's
    oracle canonicalizer sorts rows with pandas, which cannot order
    list-valued cells, so this query renders the array as a CSV string.
    Library users keep the array form."""
    from lotad_spark.pipeline import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        "zero_point",
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_csv"),
    )


def q_token_chunk_plan(spark, sf_dir):
    """Concat-and-chunk packing plan: global token offsets in shuffled
    order, cut into 512-token training blocks — distributed two-phase
    cumulative sum, no single-partition window."""
    from lotad_spark.pipeline import token_chunk_plan

    return token_chunk_plan(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), 512
    )


def q_text_unigram_lm(spark, sf_dir):
    """CCNet-style perplexity proxy: per-doc average unigram log-prob
    under the corpus's own LM; decimal-exact summation keeps the score
    reduction-order- and engine-independent."""
    from lotad_spark.pipeline import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing (pipeline/text.py ccnet_buckets,
    Wenzek et al. 2020): corpus-LM average log-prob per doc (the
    micro-unit-exact unigram scorer), then EXACT rank terciles per
    language (3·(rank−1) div n over avg_logprob DESC, id ASC) — no
    approximate percentiles, so the split replays bit-for-bit in SQL."""
    from lotad_spark.pipeline import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


_CCNET_BUCKETS_SQL = (
    "WITH toks AS (SELECT doc_id, "
    "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
    "FROM documents), "
    "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks WHERE term <> '' GROUP BY doc_id, term), "
    "lm AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term), "
    "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM lm), "
    "lp AS (SELECT term, CAST(round(ln(c / tot.t), 6) "
    "AS DECIMAL(18,6)) AS lp FROM lm CROSS JOIN tot), "
    "s AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n, "
    "CAST(sum(tf.tf * lp.lp) * 1000000 AS BIGINT) AS sm "
    "FROM tf JOIN lp USING (term) GROUP BY tf.doc_id), "
    "scored AS (SELECT s.doc_id, d.lang, s.n AS n_tokens, "
    "CAST(CASE WHEN sm < 0 THEN -((2*abs(sm) + n) // (2*n)) "
    "ELSE (2*abs(sm) + n) // (2*n) END AS DOUBLE) / 1000000.0 "
    "AS avg_logprob FROM s JOIN documents d USING (doc_id)), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY lang "
    "ORDER BY avg_logprob DESC, doc_id ASC) AS r, "
    "count(*) OVER (PARTITION BY lang) AS n FROM scored), "
    "b AS (SELECT doc_id, n_tokens, avg_logprob, "
    "CASE (3 * (r - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle' "
    "ELSE 'tail' END AS bucket FROM ranked) "
    # Left join back onto the FULL table: token-less docs return as
    # the explicit 'empty' bucket (keep=false) — the Spark operator's
    # never-dropped contract, replayed.
    "SELECT d.doc_id, d.lang, "
    "CAST(coalesce(b.n_tokens, 0) AS BIGINT) AS n_tokens, "
    "b.avg_logprob, coalesce(b.bucket, 'empty') AS bucket, "
    "coalesce(b.bucket IN ('head', 'middle'), false) AS keep "
    "FROM documents d LEFT JOIN b USING (doc_id)"
)


def q_chunk_manifest(spark, sf_dir):
    """Reader manifest for the chunk plan: (doc, chunk, in-doc slice) —
    every block assembles to exactly block_size tokens."""
    from lotad_spark.pipeline import chunk_manifest

    return chunk_manifest(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), 512
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — keyword signal for topical
    bucketing; two reduced-relation aggregations + WindowGroupLimit
    top-k."""
    from lotad_spark.pipeline import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_token_windows(spark, sf_dir):
    """Overlapping per-document token windows (RAG / long-context chunk
    prep): size=64, stride=48 over the documents table — start sequence
    plus a tail-covering final start, every window exactly
    min(size, n) tokens. Pure projection + explode, zero shuffles."""
    from lotad_spark.pipeline import sliding_token_windows

    return sliding_token_windows(_t(spark, sf_dir, "documents"), 64, 48)


_TOKEN_WINDOWS_SQL = (
    # Start list: 1, 1+48, … ≤ last, plus last itself when not aligned
    # ((last−1) % 48 == 0 ⇔ already in the sequence — replayed without
    # list_distinct, whose ordering DuckDB does not pin).
    "WITH b1 AS (SELECT doc_id, w, len(w) AS n, "
    "greatest(len(w) - 64 + 1, 1) AS lst FROM ("
    "SELECT doc_id, list_filter(string_split_regex(trim(text), "
    "'\\s+'), x -> x <> '') AS w FROM documents) WHERE len(w) > 0), "
    "b2 AS (SELECT doc_id, w, CASE WHEN (lst - 1) % 48 = 0 "
    "THEN range(1, lst + 1, 48) "
    "ELSE list_append(range(1, lst + 1, 48), lst) END AS starts "
    "FROM b1), "
    "wins AS (SELECT doc_id, w, i - 1 AS window_id, starts[i] "
    "AS start_pos FROM (SELECT doc_id, w, starts, "
    "unnest(range(1, len(starts) + 1)) AS i FROM b2)) "
    "SELECT doc_id, CAST(window_id AS BIGINT) AS window_id, "
    "CAST(start_pos AS BIGINT) AS start_pos, "
    "CAST(len(chunk) AS BIGINT) AS n_window_tokens, "
    "array_to_string(chunk, ' ') AS window_text FROM ("
    "SELECT *, w[start_pos:(start_pos + 63)] AS chunk FROM wins)"
)


def q_gopher_rules(spark, sf_dir):
    """The Gopher quality-rule stack (Rae et al. 2021, Appendix A.1.1):
    per-doc word/line metrics plus the combined passes flag, all from
    ONE shuffle-free projection; ratios round to 6 before thresholding
    so both engines branch identically at boundaries."""
    from lotad_spark.pipeline import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


_GOPHER_RULES_SQL = (
    "WITH staged AS (SELECT doc_id, "
    "list_filter(string_split_regex(trim(lower(coalesce(text, ''))), "
    "'\\s+'), x -> x <> '') AS w, "
    "list_filter(list_transform(string_split_regex(coalesce(text, ''), "
    "'\\n'), x -> trim(x)), x -> x <> '') AS l, "
    "len(regexp_extract_all(coalesce(text, ''), '#|\\.\\.\\.|…')) "
    "AS nsym FROM documents), "
    # ratios replayed as exact integer micro-unit divisions (HALF_UP
    # via (2·a·10⁶ + b) // (2·b)) — round(double, 6) is not
    # engine-reproducible on exact .5e-6 boundaries (_ratio_6dp)
    "c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw, "
    "CAST(greatest(len(w), 1) AS BIGINT) AS d1, "
    "CAST(greatest(len(l), 1) AS BIGINT) AS dl, "
    "CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) "
    "AS BIGINT) AS swl, CAST(nsym AS BIGINT) AS nsym, "
    "CAST(len(list_filter(l, x -> starts_with(x, '•') "
    "OR starts_with(x, '-') OR starts_with(x, '*'))) AS BIGINT) "
    "AS nbul, "
    "CAST(len(list_filter(l, x -> ends_with(x, '...') "
    "OR ends_with(x, '…'))) AS BIGINT) AS nell, "
    "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) "
    "AS BIGINT) AS nalp, "
    "CAST(len(list_intersect(w, ['the', 'be', 'to', "
    "'of', 'and', 'that', 'have', 'with'])) AS BIGINT) "
    "AS nstop FROM staged), "
    "m AS (SELECT doc_id, nw AS n_words, "
    "CAST((2*swl*1000000 + d1) // (2*d1) AS DOUBLE) / 1000000.0 "
    "AS mean_word_len, "
    "CAST((2*nsym*1000000 + d1) // (2*d1) AS DOUBLE) / 1000000.0 "
    "AS symbol_ratio, "
    "CAST((2*nbul*1000000 + dl) // (2*dl) AS DOUBLE) / 1000000.0 "
    "AS bullet_ratio, "
    "CAST((2*nell*1000000 + dl) // (2*dl) AS DOUBLE) / 1000000.0 "
    "AS ellipsis_ratio, "
    "CAST((2*nalp*1000000 + d1) // (2*d1) AS DOUBLE) / 1000000.0 "
    "AS alpha_ratio, "
    "nstop AS n_stopwords FROM c) "
    "SELECT *, (n_words BETWEEN 50 AND 100000) "
    "AND (mean_word_len BETWEEN 3.0 AND 10.0) "
    "AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 "
    "AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 "
    "AND n_stopwords >= 2 AS passes FROM m"
)


def q_text_bigram_lm(spark, sf_dir):
    """Interpolated bigram-LM perplexity proxy (absolute discounting,
    Ney et al. 1994): per-doc average log-prob conditioning on the
    previous token — separates shuffled word salad from coherent text,
    which the unigram row cannot. Decimal-exact per-term sums keep the
    score reduction-order- and engine-independent."""
    from lotad_spark.pipeline import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


_TEXT_BIGRAM_LM_SQL = (
    "WITH base1 AS (SELECT doc_id, w, len(w) AS n, w[1] AS w1first "
    "FROM (SELECT doc_id, "
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
    "x -> x <> '') AS w FROM documents) WHERE len(w) >= 1), "
    "dp AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2, "
    "CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, "
    "unnest(list_transform(range(1, len(w)), "
    "i -> {'w1': w[i], 'w2': w[i + 1]})) AS p FROM base1) "
    "GROUP BY ALL), "
    "uni AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS c FROM ("
    "SELECT unnest(w) AS t FROM base1) GROUP BY t), "
    "total AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM uni), "
    "big AS (SELECT w1, w2, SUM(tf) AS c12 FROM dp GROUP BY w1, w2), "
    "hist AS (SELECT w1, SUM(c12) AS chist, "
    "CAST(count(*) AS BIGINT) AS n1plus FROM big GROUP BY w1), "
    "trans AS (SELECT dp.doc_id, dp.tf * CAST(round(ln("
    "greatest(big.c12 - 0.75, 0.0) / hist.chist "
    "+ (0.75 * hist.n1plus / hist.chist) * (u.c / tt.t)"
    "), 6) AS DECIMAL(18,6)) AS lp "
    "FROM dp JOIN big USING (w1, w2) JOIN hist USING (w1) "
    "JOIN uni u ON u.w = dp.w2, total tt), "
    "frst AS (SELECT b.doc_id, b.n, CAST(round(ln(u.c / tt.t), 6) "
    "AS DECIMAL(18,6)) AS lp FROM base1 b "
    "JOIN uni u ON u.w = b.w1first, total tt), "
    "sums AS (SELECT doc_id, SUM(lp) AS slp FROM ("
    "SELECT doc_id, lp FROM trans "
    "UNION ALL SELECT doc_id, lp FROM frst) GROUP BY doc_id), "
    # avg replayed in exact integer micro-units (HALF_UP away from
    # zero via (2|s|+n)//(2n)) — round(double/n, 6) is not engine-
    # reproducible on exact .5e-6 boundaries (observed at sf0.1,
    # doc 1185: -88.754679/26 = exactly -3.4136415).
    "s2 AS (SELECT f.doc_id, CAST(f.n AS BIGINT) AS n, "
    "CAST(s.slp * 1000000 AS BIGINT) AS sm "
    "FROM frst f JOIN sums s USING (doc_id)) "
    "SELECT doc_id, n AS n_tokens, "
    "CAST(CASE WHEN sm < 0 THEN -((2*abs(sm) + n) // (2*n)) "
    "ELSE (2*abs(sm) + n) // (2*n) END AS DOUBLE) / 1000000.0 "
    "AS avg_logprob FROM s2"
)


# Fixed serving batch for the BM25 row: terms drawn from the documents
# fixture's vocabulary so every query matches; shared verbatim by the
# Spark side and the SQL oracle.
_BM25_QUERIES = [
    (0, "hash join strategy"),
    (1, "window agg batch"),
    (2, "parquet scan filter"),
    (3, "stream sort customer"),
    (4, "vector row group"),
]


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (Okapi BM25, Lucene idf variant) over the
    documents table for a fixed 5-query serving batch: top-5 docs per
    query. Per-term contributions round to 6 decimals and sum as
    DECIMAL(18,6) — exact, order-independent, bit-replayable in SQL;
    ties break by doc_id. The corpus tokenizes once into a (doc, term,
    tf) postings relation; query terms broadcast and semi-join-reduce
    the postings before any per-query work."""
    from lotad_spark.pipeline.retrieval import bm25_topk

    q = bounded_local_df(spark, 
        _BM25_QUERIES, "query_id bigint, query string"
    )
    return bm25_topk(_t(spark, sf_dir, "documents"), q, k=5)


def _bm25_sql() -> str:
    """BM25 oracle: the identical postings/df/dl/avgdl relations and the
    identical per-term expression (Lucene idf, k1/b literals emitted
    with repr so both engines parse the same doubles), decimal-exact
    contribution sums, top-5 with ties to the lowest doc_id."""
    from lotad_spark.pipeline import retrieval

    k1, b = retrieval.DEFAULT_K1, retrieval.DEFAULT_B
    qvals = ", ".join(f"({i}, '{s}')" for i, s in _BM25_QUERIES)
    return (
        f"WITH q(query_id, query) AS (VALUES {qvals}), "
        "toks AS (SELECT doc_id, "
        "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
        "FROM documents), "
        "postings AS (SELECT doc_id, term, "
        "CAST(count(*) AS BIGINT) AS tf "
        "FROM toks WHERE term <> '' GROUP BY doc_id, term), "
        "dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings "
        "GROUP BY doc_id), "
        "dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df "
        "FROM postings GROUP BY term), "
        "scal AS (SELECT CAST((SELECT count(*) FROM documents) "
        "AS DOUBLE) AS n, "
        "CAST((SELECT SUM(tf) FROM postings) AS DOUBLE) "
        "/ CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl), "
        "qt AS (SELECT DISTINCT query_id, term FROM (SELECT query_id, "
        "unnest(string_split_regex(trim(lower(query)), '\\s+')) AS term "
        "FROM q) WHERE term <> ''), "
        "contrib AS (SELECT qt.query_id, p.doc_id, "
        "CAST(round(ln(1.0 + (s.n - dfr.df + 0.5) / (dfr.df + 0.5)) "
        f"* CAST(p.tf AS DOUBLE) * {k1 + 1.0!r} "
        f"/ (CAST(p.tf AS DOUBLE) + {k1!r} * ({1.0 - b!r} "
        f"+ {b!r} * dl.dl / s.avgdl)), 6) AS DECIMAL(18,6)) AS c "
        "FROM postings p JOIN qt USING (term) JOIN dfr USING (term) "
        "JOIN dl USING (doc_id), scal s), "
        "scored AS (SELECT query_id, doc_id, "
        "CAST(SUM(c) AS DOUBLE) AS score FROM contrib GROUP BY 1, 2) "
        "SELECT query_id, doc_id, score FROM ("
        "SELECT query_id, doc_id, score, row_number() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r "
        "FROM scored) WHERE r <= 5"
    )


def _eval_snippets(spark, sf_dir):
    """Deterministic benchmark stand-in: every 25th doc's first 30 tokens
    — guaranteed to be CONTAINED in its source doc, so the contamination
    operator has true positives to find."""
    from lotad_spark.pipeline.text import tokens

    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            "doc_id",
            F.array_join(F.slice(tokens(F.col("text")), 1, 30), " ").alias(
                "text"
            ),
        )
    )




def q_json_key_stats(spark, sf_dir):
    """Schema-on-read profile of the semi-structured `props` column:
    key vocabulary + value-space width in one scan. Tail-placed (the
    driver window is saturated with higher-verification-debt rows);
    the full-registry local gate value-checks it."""
    from lotad_spark.operators.profile import json_key_stats

    return json_key_stats(_t(spark, sf_dir, "events"), "props")


def q_length_quantiles(spark, sf_dir):
    """Exact per-language length quantiles (linear interpolation — same
    definition as DuckDB quantile_cont): the corpus length profile that
    sizes token budgets and length filters."""
    docs = _t(spark, sf_dir, "documents")
    pct = F.percentile(F.col("n_chars"), F.array(*[
        F.lit(p) for p in (0.25, 0.5, 0.75, 0.95)
    ]))
    agg = docs.groupBy("lang").agg(pct.alias("ps"))
    return agg.select(
        "lang",
        F.round(F.col("ps")[0], 6).alias("p25"),
        F.round(F.col("ps")[1], 6).alias("p50"),
        F.round(F.col("ps")[2], 6).alias("p75"),
        F.round(F.col("ps")[3], 6).alias("p95"),
    )


def q_curate_corpus(spark, sf_dir):
    """The composed curation pipeline: gate → exact dedup → near-dup
    component drop → decontaminate → per-source cap → hash sample, as one
    lazy plan (two corpus shuffles end-to-end)."""
    from lotad_spark.pipeline import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    out = curate_corpus(
        docs,
        _eval_snippets(spark, sf_dir),
        cap_per_source=40,
        sample_rate=0.5,
    )
    return out.select(
        "doc_id", "source", F.round("quality", 6).alias("quality"), "n_tokens"
    )


def q_training_plan(spark, sf_dir):
    """Flagship composition: raw docs → curated corpus → per-source
    mixture → epoch upsampling → deterministic concat-and-chunk packing,
    one lazy plan end-to-end."""
    from lotad_spark.pipeline import plan_training_corpus

    return plan_training_corpus(
        _t(spark, sf_dir, "documents"),
        _eval_snippets(spark, sf_dir),
        mixture_rates=_TRAIN_MIX,
        default_rate=1.0,
        upsample_weights=_TRAIN_UP,
        block_size=256,
        cap_per_source=40,
        sample_rate=0.5,
    )


def q_profile_drift(spark, sf_dir):
    """Column-profile drift (counts/nulls/min/max) between customer and
    its deleted-rows variant — shape monitoring without shuffling data
    rows; each side is one full-scan aggregation."""
    from lotad_spark.operators import profile_drift

    db1 = _t(spark, sf_dir, "customer")
    return profile_drift(db1, db1.filter(F.col("c_custkey") % 97 != 0))


def q_keyed_diff(spark, sf_dir):
    """Per-key column-level diff of customer vs its deleted+value-shifted
    variant: which columns changed for each key, plus __row__ markers
    for one-side-only keys."""
    from lotad_spark.operators import keyed_diff

    db1 = _t(spark, sf_dir, "customer")
    db2 = _customer_value_change(spark, sf_dir).filter(
        F.col("c_custkey") % 97 != 0
    )
    return keyed_diff(db1, db2, ["c_custkey"])


def q_psi_drift(spark, sf_dir):
    """PSI of c_acctbal between customer and its value-shifted variant:
    10 equal bins, Laplace-smoothed, per-bin terms rounded — the
    standard numeric-distribution drift metric."""
    from lotad_spark.operators import psi_drift

    db1 = _t(spark, sf_dir, "customer")
    return psi_drift(
        db1,
        _customer_value_change(spark, sf_dir),
        "c_acctbal",
        lo=0.0,
        hi=10000.0,
        n_bins=10,
    )


def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): per-step reach via
    min-timestamp joins — no per-user event arrays, shuffles carry
    (user, ts) only."""
    from lotad_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def q_events_funnel_windowed(spark, sf_dir):
    """Conversion-window funnel (each transition within 6 h of SOME
    reachable previous event — multi-attempt semantics): reachable sets
    advance via one asof-style union+running-max window per step, never
    a fan-out join. Oracle is an independent EXISTS-chain formulation."""
    from lotad_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        within_seconds=21600,
    )




def q_rolling_active_users_bound(spark, sf_dir):
    """Driver-checkable face of the HLL approx rolling actives
    (operators/funnel.py rolling_active_users_approx): the sketch
    ESTIMATES are engine-specific (rows-only by nature), but the
    accuracy CLAIM — every day's estimate within 5% of exact — is a
    boolean the oracle can value-check. Emits (day, n_active,
    within_bound) where n_active is the exact count (replayed by the
    DuckDB oracle) and within_bound must be uniformly TRUE: the oracle
    emits literal TRUE, so any day whose estimate drifts past the bound
    hash-mismatches. Upgrades the last pytest-only accuracy claim
    (≤5% vs exact) to a driver row."""
    from lotad_spark.operators.funnel import (
        rolling_active_users,
        rolling_active_users_approx,
    )

    ev = _t(spark, sf_dir, "events")
    exact = rolling_active_users(ev, window_days=7)
    approx = rolling_active_users_approx(ev, window_days=7)
    return exact.join(approx, "day").select(
        "day",
        "n_active",
        (
            F.abs(F.col("n_active_est") - F.col("n_active"))
            / F.col("n_active")
            <= 0.05
        ).alias("within_bound"),
    )


def q_events_retention(spark, sf_dir):
    """Daily cohort retention — one groupBy(user) carrying (min day,
    distinct day set); day sets are bounded by the window, not events."""
    from lotad_spark.operators import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


def q_event_transitions(spark, sf_dir):
    """First-order journey graph: per-user adjacent event-type pair
    counts — one user-keyed window, no per-user event arrays; output is
    bounded by |types|², not event volume."""
    from lotad_spark.operators.paths import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def q_path_signatures(spark, sf_dir):
    """First-5-events journey signatures counted across users; the
    per-user prefix is a rank-filter window (k rows of state), and the
    output is bounded by distinct paths."""
    from lotad_spark.operators.paths import path_signatures

    return path_signatures(_t(spark, sf_dir, "events"), k=5)


def q_rollup_anomaly(spark, sf_dir):
    """Rolling z-score anomaly flags over hourly event counts per type:
    each bucket scored against its own trailing 24 buckets from exact
    integer sums — the raw event table feeds ONE aggregation; scoring
    runs on the 3.4k-row rollup relation."""
    from lotad_spark.operators.anomaly import rolling_zscore

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"), F.date_trunc("hour", "ts").alias("hour_start")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = rolling_zscore(
        hourly, ["event_type"], "hour_start", "n",
        window=24, min_periods=8, threshold=3.0,
    )
    return scored.select(
        "event_type",
        F.col("hour_start").cast("string").alias("hour_start"),
        "n", "z", "is_anomaly",
    )


def q_zorder_codes(spark, sf_dir):
    """Morton codes interleaving (value, user_id) — the write-time
    layout key for multi-column scan pruning; pure integer bit math,
    engine-reproducible."""
    from lotad_spark.sources import zvalue

    return _t(spark, sf_dir, "events").select(
        "event_id",
        zvalue([("value", 0.0, 250.0), ("user_id", 0.0, 2000.0)]).alias(
            "zval"
        ),
    )


def q_events_value_hist(spark, sf_dir):
    """Tumbling-window histogram of the event value column — the batch
    face of the streaming distribution monitor (one definition serves
    both; watermark attaches on streams)."""
    from lotad_spark.streaming import value_histogram

    return value_histogram(
        _t(spark, sf_dir, "events"), lo=0.0, hi=250.0, n_bins=5
    )


def q_events_session_agg(spark, sf_dir):
    from lotad_spark.streaming import session_event_agg

    return session_event_agg(_t(spark, sf_dir, "events"), gap="5 minutes")


def q_asof_latest_order(spark, sf_dir):
    """As-of join: each event stitched to the customer's latest order at
    or before the event timestamp — one union + running-last window
    (single key exchange, one sort), never an inequality join. The right
    side is pre-reduced to one row per (custkey, orderdate) so ties are
    deterministic; oracle is DuckDB's native ASOF JOIN."""
    from lotad_spark.operators import asof_join

    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_ok"))
    )
    return asof_join(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "ts"),
        orders,
        key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["last_ok"],
    ).select("event_id", "user_id", "last_ok")


def q_range_join_views(spark, sf_dir):
    """Bin-bucketed interval join: view events inside the hour before
    each purchase by the same user — intervals explode into hour bins,
    points map to ONE bin, and the match is a plain (key, bin) equi-join
    with the exact containment predicate as residual filter. No
    nested-loop, no pair produced twice."""
    from lotad_spark.operators import range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return range_join(
        views,
        purchases,
        point_col="v_ts",
        start_col="w_start",
        end_col="w_end",
        bin_width=3600.0,
        point_key="v_user",
        interval_key="p_user",
    ).select("v_id", "p_id")


def q_rollup_hourly(spark, sf_dir):
    """Hypertable-style continuous aggregate: raw events fold once into
    minute buckets of mergeable partials (count/sum/min/max as exact
    decimals), hours derive by MERGING the minute partials — the oracle
    aggregates raw straight to hours, proving rollup ≡ raw."""
    from lotad_spark.operators import merge_rollup, rollup_time_bucket

    minutes = rollup_time_bucket(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        value_col="value",
        unit="minute",
        dims=["event_type"],
    )
    hours = merge_rollup(minutes, unit="hour", dims=["event_type"])
    # Oracle-facing canonicalization: the partials are decimal-exact
    # internally; render them as fixed-scale strings so both engines
    # serialize the identical value identically (driver hashes values
    # through pandas, where decimal trailing-zero handling diverges).
    return hours.select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type",
        "n",
        F.col("sum_value").cast("string").alias("sum_value"),
        F.col("min_value").cast("string").alias("min_value"),
        F.col("max_value").cast("string").alias("max_value"),
    )


def q_rollup_incremental(spark, sf_dir):
    """Continuous-aggregate maintenance end-to-end: materialize the
    minute rollup of the first 20 days, upsert the remaining days'
    events (partition-pruned read of touched days only, dynamic
    partition overwrite — history never re-enters the job), then serve
    hours by merging the stored minute partials. The oracle aggregates
    ALL raw events straight to hours: incremental ≡ batch."""
    from lotad_spark.operators import (
        merge_rollup,
        read_rollup,
        rollup_time_bucket,
        upsert_rollup,
        write_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-21"
    path = _scratch("lotad_rollup_") + "/events_minutely"
    write_rollup(
        rollup_time_bucket(
            ev.filter(F.col("ts") < cutoff),
            ts_col="ts",
            value_col="value",
            unit="minute",
            dims=["event_type"],
        ),
        path,
    )
    upsert_rollup(
        ev.filter(F.col("ts") >= cutoff),
        path,
        ts_col="ts",
        value_col="value",
        unit="minute",
        dims=["event_type"],
    )
    hours = merge_rollup(
        read_rollup(spark, path), unit="hour", dims=["event_type"]
    )
    # Same oracle-facing string canonicalization as q_rollup_hourly.
    return hours.select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type",
        "n",
        F.col("sum_value").cast("string").alias("sum_value"),
        F.col("min_value").cast("string").alias("min_value"),
        F.col("max_value").cast("string").alias("max_value"),
    )


def q_rollup_gapfill(spark, sf_dir):
    """time_bucket_gapfill: every series gets one row per hour between
    its first and last observed bucket; gaps carry n=0 plus LOCF partials
    (exact decimals, so the LOCF average derives at read time). Spine and
    window run over rollup rows, never raw data."""
    from lotad_spark.operators import gapfill_rollup, rollup_time_bucket

    hours = rollup_time_bucket(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        value_col="value",
        unit="hour",
        dims=["event_type"],
    )
    g = gapfill_rollup(hours, unit="hour", dims=["event_type"])
    # Decimal outputs rendered as fixed-scale strings for the driver's
    # cross-engine hash (see q_rollup_hourly); NULL gaps stay NULL.
    return g.select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type",
        "n",
        F.col("sum_value").cast("string").alias("sum_value"),
        F.col("locf_sum_value").cast("string").alias("locf_sum_value"),
        "locf_n",
    )


def q_twa_by_user(spark, sf_dir):
    """Time-weighted aggregation under LOCF over each user's irregular
    event samples — exact (decimal numerator, microsecond duration)
    parts, so the oracle's window-SQL replay must match bit-for-bit.
    One key exchange + per-key sort; event_id breaks timestamp ties."""
    from lotad_spark.operators import time_weighted_sum

    twa = time_weighted_sum(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
    )
    # twa_num is decimal(38,6): render as a fixed-scale string so the
    # driver's cross-engine value hash sees identical serializations.
    return twa.withColumn("twa_num", F.col("twa_num").cast("string"))


def q_quantile_estimates(spark, sf_dir):
    """Mergeable-histogram quantiles — the deterministic t-digest
    alternative: bin counts (one aggregation, n_bins rows) feed a pure
    arithmetic interpolation, so the DuckDB oracle reproduces the exact
    same estimates from the same formula. Counts ADD across batches/
    windows, so the estimate is maintainable incrementally."""
    from lotad_spark.operators import column_histogram, quantiles_from_counts

    h = column_histogram(
        _t(spark, sf_dir, "events"), col="value", lo=0.0, hi=250.0, n_bins=50
    )
    return quantiles_from_counts(
        h, lo=0.0, hi=250.0, n_bins=50, qs=[0.25, 0.5, 0.75, 0.9, 0.99]
    )


def q_quantiles_online(spark, sf_dir):
    """Online quantiles from landed stream counts: the SAME windowed
    histogram definition readStream runs (streaming/windowed.py
    value_histogram) feeds per-hour interpolated quantile estimates —
    raw values are never revisited, only the n_bins counts each window
    landed. Companion to psi_online over the same landed relation."""
    from lotad_spark.operators import quantiles_from_counts
    from lotad_spark.streaming import value_histogram

    hist = value_histogram(
        _t(spark, sf_dir, "events"), lo=0.0, hi=250.0, n_bins=5
    )
    return quantiles_from_counts(
        hist,
        lo=0.0,
        hi=250.0,
        n_bins=5,
        qs=[0.5, 0.9],
        group_cols=["hour_start"],
    )


def q_value_deciles(spark, sf_dir):
    """Adaptive quantile bucketing: every event tagged with its value
    decile — boundaries from the mergeable histogram quantiles (one
    aggregation), assignment a stateless projection against 9 collected
    boundary literals. The curation shape behind "drop the bottom
    quality decile"."""
    from lotad_spark.operators.profile import quantile_buckets

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    return quantile_buckets(
        ev, "value", lo=0.0, hi=250.0, n_buckets=10, n_bins=100
    )


def q_anomaly_online(spark, sf_dir):
    """Online anomaly flags from landed stream counts: the SAME
    value_histogram definition readStream runs feeds per-bin rolling
    z-scores — each bin's hourly count scored against its own trailing
    24 landed windows; raw events are never revisited. Completes the
    online triple (psi_online, quantiles_online, anomaly_online) over
    one landed relation. Hours where a bin landed no row are skipped
    (both engines share the semantics); for drop-to-zero detection,
    gapfill_rollup the landed counts first."""
    from lotad_spark.operators.anomaly import rolling_zscore
    from lotad_spark.streaming import value_histogram

    hist = value_histogram(
        _t(spark, sf_dir, "events"), lo=0.0, hi=250.0, n_bins=5
    )
    return rolling_zscore(
        hist, ["bin_id"], "hour_start", "n",
        window=24, min_periods=8, threshold=3.0,
    )


def q_rollup_distinct_users(spark, sf_dir):
    """Mergeable-sketch distinct counts, VALUE-CHECKED (r14): minute-
    level HLL sketches of user_id union into hourly estimates — the
    partial that exact count/sum/min/max rollups cannot carry. The HLL
    registers themselves are engine-specific, so the oracle-checkable
    claims are (a) the exact hourly distinct count, replayed by DuckDB,
    and (b) the accuracy contract — every hour's merged-sketch estimate
    within 5% of exact — emitted as a boolean the oracle pins to
    literal TRUE (the rolling_active_users_bound pattern; r13 VERDICT
    item 4: the former rows-only face burned a window slot as
    err=no_oracle). Merge-invariance (minute-union ≡ direct-hour,
    bit-equal) stays pinned by tests/test_temporal.py."""
    from lotad_spark.operators import (
        distinct_report,
        merge_distinct_rollup,
        rollup_distinct,
    )

    ev = _t(spark, sf_dir, "events")
    minutes = rollup_distinct(ev, ts_col="ts", id_col="user_id")
    est = distinct_report(merge_distinct_rollup(minutes, unit="hour"))
    exact = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("bucket")
    ).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_distinct")
    )
    return est.join(exact, "bucket").select(
        "bucket",
        "n_rows",
        "n_distinct",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_distinct"))
            / F.col("n_distinct")
            <= 0.05
        ).alias("within_bound"),
    )


def q_skew_two_phase_agg(spark, sf_dir):
    """Salted two-phase aggregation ≡ plain GROUP BY (skew operator parity
    proven cross-engine, not just against Spark's own aggregate)."""
    from lotad_spark.operators.skew import two_phase_agg

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("decimal(18,2)").alias("q")
    )
    return two_phase_agg(
        li,
        ["l_suppkey"],
        {"sum_qty": ("sum", "q"), "n_items": ("count", "q")},
    ).select(
        "l_suppkey",
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        F.col("n_items").cast("bigint").alias("n_items"),
    )


def q_skew_salted_join(spark, sf_dir):
    """Salted equi-join ≡ plain join (aggregated so the oracle is order-
    free): orders salted against the nation-sized customer projection."""
    from lotad_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return (
        salted_join(orders, cust, "o_custkey", buckets=4)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


def q_drift_static_batch(spark, sf_dir):
    """Batch face of streaming_drift: mutated customer rows absent from the
    reference snapshot (anti-join on the canonical hash)."""
    from lotad_spark.streaming import streaming_drift

    ref = _t(spark, sf_dir, "customer")
    mutated = _customer_value_change(spark, sf_dir)
    return streaming_drift(mutated, ref).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


def q_events_key_stats(spark, sf_dir):
    """Batch face of the applyInPandasWithState stateful operator — same
    per-key lifetime stats the streaming state machine maintains."""
    from lotad_spark.streaming import key_lifetime_stats

    return key_lifetime_stats(_t(spark, sf_dir, "events"), key_col="user_id").select(
        "user_id",
        "n_events",
        F.col("first_ts").cast("string").alias("first_ts"),
        F.col("last_ts").cast("string").alias("last_ts"),
    )


def _decode_tier_fixture(did: int) -> bytes:
    """One media payload per doc for the decode-tier counter, cycling
    doc_id %% 12 through container/tier pairs: (0) P6 PPM — pnm/real,
    (1) P5 with maxval 15 — pnm/header_only (the parser reads the
    header, the pixel decoder refuses non-255 maxval), (2) lossless
    VP8L WebP — webp/real, (3) lossy VP8 WebP — webp/header_only (dims
    parse off the keyframe header, pixels honest-None), (4) 16-bit
    mono PCM WAV — wav/real, (5) float-PCM WAV (audio_format 3) —
    wav/header_only, (6) 16-bit-depth PNG — png/header_only (IHDR
    parses, the pixel path is 8-bit-only), (7) non-media bytes —
    unknown/fallback, (8, r17) header-only ISO-BMFF MP4 —
    mp4/header_only, (9, r17) MPEG1-L3 stream — mp3/header_only,
    (10, r18) a valid single-page PDF — pdf/real by the SAME
    pdf_text_pages extractor the pdf rows run (every did%24==22 doc
    is a magic-only refusal instead — pdf/header_only), (11, r18)
    SVG — svg/header_only (dims parse, no rasterizer exists). The
    named pdf/svg tiers stop documents from reading as decode
    FAILURE in the telemetry (the r17 unknown/fallback misread)."""
    import struct
    import zlib

    v = did % 12
    if v == 8:
        return _mp4_payload(did)
    if v == 9:
        return _mp3_payload(did)
    if v == 10:
        if did % 24 == 22:
            return b"%PDF-1.7\nno xref, no trailer: parse refuses"
        return _pdf_fixture(f"tier doc {did}", did)
    if v == 11:
        return (
            b'<?xml version="1.0"?>\n'
            b'<svg xmlns="http://www.w3.org/2000/svg" width="'
            + str(did % 9 + 1).encode()
            + b'" height="3"><rect/></svg>'
        )
    if v == 0:
        return b"P6\n2 2\n255\n" + bytes(range(12))
    if v == 1:
        return b"P5\n2 2\n15\n" + bytes([1, 2, 3, 4])
    if v == 2:
        return _wp_encode_fixture(b"tier-fixture-pixels!" * 2, 5, 2, did)
    if v == 3:
        vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 4, 3)
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
            + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
        )
    if v in (4, 5):
        audio_format = 1 if v == 4 else 3
        data = struct.pack("<4h", 100, -100, 2000, -32768)
        fmt = struct.pack(
            "<HHIIHH", audio_format, 1, 8000, 16000, 2, 16
        )
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
    if v == 6:
        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data))
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
        # 2x2 RGB at 16 bits/sample: 2 rows of (1 filter byte + 12)
        idat = zlib.compress(b"\x00" + b"\xab" * 12 + b"\x00" + b"\xcd" * 12)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        )
    return b"not a media payload " + str(did).encode()


def q_decode_tier_counts(spark, sf_dir):
    """Decode-tier telemetry (pipeline/multimodal.py
    decode_tier_counts — NEW r16): per-(container, tier) payload
    counts, where tier is real / header_only / fallback / null by the
    SAME parsers and decoders the media path uses. This is the
    measurement that decides whether e.g. a lossy-VP8 decoder is worth
    building for a given crawl. The fixture cycles twelve
    container/tier pairs by doc_id (r18: + pdf real/refused and svg —
    documents get NAMED tiers, not unknown/fallback), so the oracle
    is doc_id arithmetic."""
    from lotad_spark.pipeline.multimodal import decode_tier_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [
                _decode_tier_fixture(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]]

    media = docs.mapInPandas(build, schema="doc_id bigint, content binary")
    return decode_tier_counts(media)


_DECODE_TIER_SQL = (
    "SELECT container, tier, COUNT(*) AS n FROM ("
    "SELECT CASE CAST(doc_id % 12 AS INT) "
    "WHEN 0 THEN 'pnm' WHEN 1 THEN 'pnm' "
    "WHEN 2 THEN 'webp' WHEN 3 THEN 'webp' "
    "WHEN 4 THEN 'wav' WHEN 5 THEN 'wav' "
    "WHEN 6 THEN 'png' WHEN 8 THEN 'mp4' WHEN 9 THEN 'mp3' "
    "WHEN 10 THEN 'pdf' WHEN 11 THEN 'svg' "
    "ELSE 'unknown' END AS container, "
    "CASE CAST(doc_id % 12 AS INT) "
    "WHEN 0 THEN 'real' WHEN 2 THEN 'real' WHEN 4 THEN 'real' "
    "WHEN 10 THEN (CASE WHEN doc_id % 24 = 22 "
    "THEN 'header_only' ELSE 'real' END) "
    "WHEN 7 THEN 'fallback' ELSE 'header_only' END AS tier "
    "FROM documents) GROUP BY container, tier"
)


def q_multimodal_decode(spark, sf_dir):
    """REAL image decode: each doc becomes a valid binary P6 PPM payload
    (header 'P6\\n<w> <h>\\n255\\n' + w*h*3 pixel bytes) with dimensions
    derived from doc_id; the kernel parses the header back out (same
    answer PIL gives), so the oracle checks an actual decode round-trip,
    not a byte-length fake. r17: every 6th doc ships an SVG instead —
    the web's dominant vector format, dims off the root tag
    (mode='SVG'; no rasterizer exists in the zero-dep tier, so the
    pixel path stays honest-None for it)."""
    from lotad_spark.pipeline.multimodal import with_decoded_metadata

    w = (F.col("doc_id") % 13 + 1).cast("int")
    h = (F.col("doc_id") % 7 + 1).cast("int")
    ppm = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
        F.repeat(F.lit("x"), w * h * 3),
    )
    svg = F.concat(
        F.lit('<?xml version="1.0"?>\n'
              '<svg xmlns="http://www.w3.org/2000/svg" width="'),
        (F.col("doc_id") % 19 + 1).cast("int").cast("string"),
        F.lit('" height="'),
        (F.col("doc_id") % 11 + 1).cast("int").cast("string"),
        F.lit('"><rect fill="#333"/></svg>'),
    )
    payload = F.when(F.col("doc_id") % 6 == 4, svg).otherwise(ppm)
    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(payload, "utf-8").alias("content"),
    )
    return with_decoded_metadata(media)




def _doc_ppm_media(spark, sf_dir):
    """Each doc as a VALID binary P6 PPM whose pixel section is the doc's
    own text, rpad/truncated to exactly w*h*3 bytes (w, h derived from
    doc_id; corpus is ASCII so byte == codepoint and the SQL oracle can
    index the same pixels with substr/ord)."""
    w = (F.col("doc_id") % 5 + 2).cast("int")
    h = (F.col("doc_id") % 3 + 1).cast("int")
    px = F.expr(
        "rpad(coalesce(text, ''), "
        "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x')"
    )
    ppm = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
        px,
    )
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(ppm, "utf-8").alias("content"),
    )


def _doc_png_media(spark, sf_dir):
    """Each doc as a VALID 8-bit truecolor PNG whose pixel bytes are
    IDENTICAL to the P6 row's (the doc's text rpad/truncated to
    w*h*3): built in an Arrow mapInPandas stage with the scanline
    FILTER TYPE CYCLING (y + doc_id) % 5 through
    none/sub/up/average/paeth (heights are <= 3, so cycling by doc
    guarantees every filter type appears across the corpus), so
    decoding must run the real zlib inflate AND un-apply every filter
    correctly to reconstruct the bytes — any unfilter bug changes the
    pixels and hash-mismatches the oracle (which derives the expected
    histogram from the same text bytes, engine-independently)."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct
        import zlib

        import numpy as np

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + typ
                + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h = did % 5 + 2, did % 3 + 1
                need = w * h * 3
                raw = (text or "").encode("utf-8")[:need].ljust(
                    need, b"x"
                )
                px = np.frombuffer(raw, np.uint8).reshape(h, w * 3).astype(int)
                stream = bytearray()
                bpp = 3
                for y in range(h):
                    # cycle by doc too: h <= 3, so y alone would never
                    # reach average/paeth
                    f = (y + did) % 5
                    line = px[y]
                    prev = px[y - 1] if y > 0 else np.zeros(w * 3, int)
                    if f == 0:
                        enc = line
                    elif f == 1:
                        left = np.concatenate([[0] * bpp, line[:-bpp]])
                        enc = (line - left) % 256
                    elif f == 2:
                        enc = (line - prev) % 256
                    elif f == 3:
                        left = np.concatenate([[0] * bpp, line[:-bpp]])
                        enc = (line - (left + prev) // 2) % 256
                    else:
                        left = np.concatenate([[0] * bpp, line[:-bpp]])
                        ul = np.concatenate([[0] * bpp, prev[:-bpp]])
                        p = left + prev - ul
                        pa = np.abs(p - left)
                        pb = np.abs(p - prev)
                        pc = np.abs(p - ul)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc),
                            left,
                            np.where(pb <= pc, prev, ul),
                        )
                        enc = (line - pred) % 256
                    stream.append(f)
                    stream.extend(int(v) for v in enc)
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(stream)))
                    + chunk(b"IEND", b"")
                )
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_png_luma_hist(spark, sf_dir):
    """The PNG face of the real-pixel luma oracle: pixel content is
    the doc's own text bytes (the P6 pattern), carried through a full
    PNG encode (zlib deflate + all five scanline filters, cycling per
    row) → decode_pixels (stdlib inflate + numpy unfilter) → BT.601
    luma histogram. The oracle computes the expected histogram from
    the text bytes directly, so the ENTIRE PNG round trip is
    value-checked: a wrong unfilter, a swapped channel, or a fallback
    row (kind='bytes') hash-mismatches."""
    from lotad_spark.pipeline.multimodal import extract_feature_counts

    return extract_feature_counts(
        _doc_png_media(spark, sf_dir), kind="luma"
    ).select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


def _doc_jpeg_media(spark, sf_dir):
    """Each doc as a VALID sequential-baseline grayscale JFIF JPEG whose
    8×8 blocks are each a CONSTANT gray drawn from the doc's text bytes
    (block b of the (doc_id%3+1)×(doc_id%2+1) grid = byte b of the text
    rpad/truncated with 'x') — the one pixel class a LOSSY format
    round-trips EXACTLY: a constant block has only a DC coefficient
    (8·(g−128) under the orthonormal DCT), which an all-ones quant
    table stores exactly and the IDCT reconstructs exactly. Decoding
    therefore must run the real marker walk, canonical-Huffman DC
    decode (differential, category+amplitude bits), EOB handling,
    dequant, and IDCT to reproduce the grays — any bit-reader,
    predictor, or IDCT bug changes the pixels and hash-mismatches the
    oracle, which derives the expected histogram from the same text
    bytes engine-independently. (The lossy AC / chroma-subsampling
    paths are pinned by pytest fixtures instead — they cannot be
    value-checked from an engine-independent pixel source.)"""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct

        def seg(marker, payload):
            return (
                b"\xff"
                + bytes([marker])
                + struct.pack(">H", len(payload) + 2)
                + payload
            )

        # canonical tables: DC = 12 categories at code length 4;
        # AC = EOB alone at code length 1 (constant blocks have no AC)
        dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
        dc_vals = bytes(range(12))
        ac_bits = bytes([1] + [0] * 15)
        ac_vals = bytes([0x00])
        app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

        def encode(grays, bx_n, by_n):
            out = bytearray(b"\xff\xd8")
            out += seg(0xE0, app0)
            out += seg(0xDB, bytes([0]) + bytes([1] * 64))
            out += seg(
                0xC0,
                bytes([8])
                + struct.pack(">HH", by_n * 8, bx_n * 8)
                + bytes([1, 1, 0x11, 0]),
            )
            out += seg(0xC4, bytes([0x00]) + dc_bits + dc_vals)
            out += seg(0xC4, bytes([0x10]) + ac_bits + ac_vals)
            out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            acc, n, data = 0, 0, bytearray()

            def put(val, ln):
                nonlocal acc, n
                for i in range(ln - 1, -1, -1):
                    acc = (acc << 1) | ((val >> i) & 1)
                    n += 1
                    if n == 8:
                        data.append(acc)
                        if acc == 0xFF:
                            data.append(0x00)
                        acc, n = 0, 0

            pred = 0
            for g in grays:
                dc = 8 * (g - 128)
                diff = dc - pred
                pred = dc
                t = abs(diff).bit_length()
                put(t, 4)  # DC category code (canonical: code == t)
                if t:
                    put(diff if diff >= 0 else diff + (1 << t) - 1, t)
                put(0, 1)  # EOB
            while n:
                put(1, 1)  # pad the final byte with 1s
            out += data
            out += b"\xff\xd9"
            return bytes(out)

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                bx_n, by_n = did % 3 + 1, did % 2 + 1
                need = bx_n * by_n
                raw = (text or "").encode("utf-8")[:need].ljust(
                    need, b"x"
                )
                payloads.append(encode(list(raw), bx_n, by_n))
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return _spread(docs).mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_jpeg_luma_hist(spark, sf_dir):
    """The JPEG face of the real-pixel luma oracle: constant-block
    grayscale baseline JPEGs (the exactly-round-tripping pixel class —
    see :func:`_doc_jpeg_media`) carried through the full zero-dep
    decode (marker walk → Huffman → dequant → IDCT,
    pipeline/multimodal.py _jpeg_pixels) → BT.601 luma histogram. The
    oracle computes the expected histogram from the text bytes
    directly (luma of gray g is exactly g; each 8×8 block contributes
    64 pixels), so the decode is value-checked end-to-end and a
    fallback row (kind='bytes') hash-mismatches."""
    from lotad_spark.pipeline.multimodal import extract_feature_counts

    return extract_feature_counts(
        _doc_jpeg_media(spark, sf_dir), kind="luma"
    ).select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


def _doc_progressive_jpeg_media(spark, sf_dir):
    """Each doc as a VALID progressive (SOF2) grayscale JFIF JPEG of
    the SAME constant-gray-block pixel class as :func:`_doc_jpeg_media`
    (block b of the grid = text byte b; the one pixel class a lossy
    codec round-trips exactly), so the oracle derives the expected
    histogram from the text bytes unchanged. The scan script forces
    the full progressive machinery: a DC first scan at Al=4 (the
    point-transformed differential DC), a DC successive-approximation
    refinement (Ah=4 → Al=3) whose correction bits are TEXT-DEPENDENT
    (bit 3 of DC = 8·(g−128) is bit 0 of g), and two spectral-selection
    AC first scans (bands 1-5 and 6-63) that cover the all-zero bands
    with EOB runs. Reconstruction is exact: DC is a multiple of 8, so
    bits 2..0 — the ones the script never sends — are genuinely zero.
    A decoder that misreads the point transform, the refinement OR,
    the EOB-run arithmetic, or multi-scan accumulation changes pixel
    values and hash-mismatches. (Nonzero-AC progressive paths — ZRL,
    newly-significant insertion, AC refinement correction bits,
    restart intervals, 4:2:0 color — are pinned encoder-independently
    in tests/test_jpeg_progressive.py; they cannot be value-checked
    from an engine-independent pixel source.)"""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct

        def seg(marker, payload):
            return (
                b"\xff"
                + bytes([marker])
                + struct.pack(">H", len(payload) + 2)
                + payload
            )

        dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
        dc_vals = bytes(range(12))
        # the three EOB-run symbols 0x00/0x10/0x20 (runs 1/2-3/4-7 —
        # the grid has at most 6 blocks) as canonical codes 0/1/2 at
        # length 2
        ac_bits = bytes([0, 3] + [0] * 14)
        ac_vals = bytes([0x00, 0x10, 0x20])
        app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

        class BW:
            def __init__(self):
                self.data = bytearray()
                self.acc = 0
                self.n = 0

            def put(self, val, ln):
                for i in range(ln - 1, -1, -1):
                    self.acc = (self.acc << 1) | ((val >> i) & 1)
                    self.n += 1
                    if self.n == 8:
                        self.data.append(self.acc)
                        if self.acc == 0xFF:
                            self.data.append(0x00)
                        self.acc, self.n = 0, 0

            def done(self):
                while self.n:
                    self.put(1, 1)
                return bytes(self.data)

        def sos(ss, se, ah, al):
            return seg(
                0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
            )

        def encode(grays, bx_n, by_n):
            out = bytearray(b"\xff\xd8")
            out += seg(0xE0, app0)
            out += seg(0xDB, bytes([0]) + bytes([1] * 64))
            out += seg(
                0xC2,
                bytes([8])
                + struct.pack(">HH", by_n * 8, bx_n * 8)
                + bytes([1, 1, 0x11, 0]),
            )
            out += seg(0xC4, bytes([0x00]) + dc_bits + dc_vals)
            out += seg(0xC4, bytes([0x10]) + ac_bits + ac_vals)
            dcs = [8 * (g - 128) for g in grays]
            # scan 1: DC first at Al=4 — differential coding of dc>>4
            bw = BW()
            pred = 0
            for dc in dcs:
                v = dc >> 4
                diff = v - pred
                pred = v
                t = abs(diff).bit_length()
                bw.put(t, 4)
                if t:
                    bw.put(
                        diff if diff >= 0 else diff + (1 << t) - 1, t
                    )
            out += sos(0, 0, 0, 4) + bw.done()
            # scan 2: DC refinement Ah=4 → Al=3 — one bit per block,
            # text-dependent (bit 3 of dc = bit 0 of g)
            bw = BW()
            for dc in dcs:
                bw.put((dc >> 3) & 1, 1)
            out += sos(0, 0, 4, 3) + bw.done()
            # scans 3-4: spectral AC bands, all zero → one EOB run
            # covering every block of the band
            nb = len(dcs)
            for ss_, se_ in ((1, 5), (6, 63)):
                bw = BW()
                r = nb.bit_length() - 1
                bw.put(r, 2)  # canonical code for symbol r<<4
                if r:
                    bw.put(nb - (1 << r), r)
                out += sos(ss_, se_, 0, 0) + bw.done()
            out += b"\xff\xd9"
            return bytes(out)

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                bx_n, by_n = did % 3 + 1, did % 2 + 1
                need = bx_n * by_n
                raw = (text or "").encode("utf-8")[:need].ljust(
                    need, b"x"
                )
                payloads.append(encode(list(raw), bx_n, by_n))
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return _spread(docs).mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_jpeg_progressive_hist(spark, sf_dir):
    """The progressive-JPEG face of the real-pixel tier (r13 VERDICT
    item 7 — the last big format gap; progressive dominates web
    corpora alongside baseline): SOF2 multi-scan decode
    (pipeline/multimodal.py _jpeg_progressive_pixels — DC point
    transform, successive-approximation refinement, EOB-run AC band
    coder, shared dequant→IDCT tail) feeding the 16-bin luma
    histogram. Shares the baseline face's exactly-round-tripping pixel
    class, so the oracle derives expected pixels from the text bytes;
    kind='luma' pins that the real multi-scan decode ran for every
    row."""
    from lotad_spark.pipeline.multimodal import extract_feature_counts

    return extract_feature_counts(
        _doc_progressive_jpeg_media(spark, sf_dir), kind="luma"
    ).select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


def _wav_payload(did: int, text, frame_mult: int = 4) -> bytes:
    """One doc as a VALID 16-bit mono PCM WAV whose data bytes are the
    doc's text rpad/truncated to 2·n_frames bytes (n_frames =
    (did%5+2)·frame_mult; the fingerprint row passes 32 so its 33
    windows hold real samples); the SQL oracle indexes the SAME text
    bytes as little-endian sample pairs, so the RIFF chunk walk + PCM
    decode is value-checked byte for byte."""
    import struct

    n_frames = (did % 5 + 2) * frame_mult
    need = n_frames * 2
    data = (text or "").encode("utf-8")[:need].ljust(need, b"x")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    )


def _mpeg_l3_frame(did: int, mono: bool) -> bytes:
    """One EXACT 576-byte MPEG1 Layer III frame (128 kbps index 9 at
    32000 Hz index 2 — 144·128000/32000 with zero padding), filler
    bytes derived from doc_id; shared by every MP3 fixture so the
    header arithmetic lives in one place."""
    b3 = (9 << 4) | (2 << 2)
    head = bytes([0xFF, 0xFB, b3, 0xC0 if mono else 0x00])
    return head + bytes((did + i) % 256 for i in range(576 - 4))


def _mp3_payload(did: int) -> bytes:
    """One doc as a VALID MPEG1 Layer III stream (r17): 128 kbps
    (index 9) at 32000 Hz (index 2) gives EXACT 576-byte frames
    (144·128000/32000), so the header walk's arithmetic is pure
    doc_id math: did%4+2 frames → 1152·(did%4+2) sample frames,
    duration 36·(did%4+2) ms. Channel mode cycles mono/stereo on
    (did//6)%2; every (did//6)%3==1 doc carries an ID3v2 tag of
    varying syncsafe size (the skip path), every (did//6)%2==1 a
    trailing ID3v1 'TAG' block (the stop-at-garbage path)."""
    nf = did % 4 + 2
    mono = (did // 6) % 2 == 0
    frame = _mpeg_l3_frame(did, mono)
    out = b""
    if (did // 6) % 3 == 1:
        sz = did % 30 + 10
        out += (
            b"ID3\x04\x00\x00"
            + bytes([0, 0, sz >> 7, sz & 0x7F])
            + b"\x00" * sz
        )
    out += frame * nf
    if (did // 6) % 2 == 1:
        out += b"TAG" + b"v" * 125
    return out


def _doc_wav_media(spark, sf_dir):
    """Every doc as the :func:`_wav_payload` WAV — the audio-hist
    fixture (all-PCM by design: the hist row pins kind='pcm' for every
    row)."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = [
                _wav_payload(int(did), text)
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_audio_fingerprint(spark, sf_dir):
    """Audio energy-contour fingerprint (multimodal.py
    audio_fingerprint — NEW r17): the flat PCM stream splits into 33
    integer-boundary windows, exact Σ s² per window, bit w set when
    E[w+1] > E[w] — the audio near-dup key (band + hamming downstream,
    the simhash pattern). The fixture is a LONGER WAV than the stats
    row ((did%5+2)·32 frames, so windows hold 1-4 samples and the
    contour actually varies) with samples from the text bytes; the
    oracle replays windowing, exact energies, and the bit packing with
    DuckDB list functions — an off-by-one window boundary flips bits
    and hash-mismatches."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from lotad_spark.pipeline.multimodal import audio_fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = [
                _wav_payload(int(did), text, frame_mult=32)
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    media = docs.mapInPandas(
        build, schema="media_id bigint, content binary"
    )
    return audio_fingerprint(media)


_AUDIO_FP_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST((doc_id % 5 + 2) * 32 AS BIGINT) AS nf, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * 32 * 2 AS INT), 'x') AS px FROM documents), "
    "sl AS (SELECT media_id, nf, list_transform("
    "list_transform(range(0, nf), i -> ord(substr(px, "
    "CAST(2 * i + 1 AS INT), 1)) "
    "+ 256 * ord(substr(px, CAST(2 * i + 2 AS INT), 1))), "
    "u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS s "
    "FROM base) "
    "SELECT media_id, 'pcm' AS kind, "
    "CAST(list_aggregate(list_transform(range(0, 32), w -> "
    "CASE WHEN coalesce(list_aggregate(list_transform("
    "list_slice(s, CAST((w + 1) * nf // 33 + 1 AS INT), "
    "CAST((w + 2) * nf // 33 AS INT)), x -> x * x), 'sum'), 0) > "
    "coalesce(list_aggregate(list_transform("
    "list_slice(s, CAST(w * nf // 33 + 1 AS INT), "
    "CAST((w + 1) * nf // 33 AS INT)), x -> x * x), 'sum'), 0) "
    "THEN CAST(1 AS BIGINT) << (31 - CAST(w AS INT)) "
    "ELSE 0 END), 'sum') AS BIGINT) AS fp FROM sl"
)


def _audio_tags_fixture(did: int) -> bytes:
    """One audio payload for the audio_tags row (r17), cycling the two
    carrying forms with doc_id-arithmetic values: even docs are WAV
    with a RIFF LIST-INFO chunk (INAM/IART/IPRD), odd docs MPEG audio
    with a leading ID3v2 tag (TIT2/TPE1/TALB; v2.3 and v2.4 syncsafe
    sizes cycle on did%4, utf-8 vs latin-1 encoding bytes on did%7);
    title 't'||did%9 always present, artist absent on did%5==0, album
    absent on did%3==0; docs with did%10 in (1,6) are tagless (the
    'none' path); docs with did%10==9 carry ONLY a trailing 128-byte
    ID3v1 TAG block (r17 — the legacy fallback path). r18 slots:
    did%10==2 docs are FLAC with a VORBIS_COMMENT block (kind
    'flac'); did%10==7 docs are OGG — Vorbis comment header on
    did%20==7, OpusTags on did%20==17 — whose comment packet is
    vendor-padded past 255 bytes so it SPANS two pages with real
    lacing, with an interloper page from another bitstream serial in
    between (kind 'ogg'); did%10==3 docs apply ID3v2.3 TAG-LEVEL
    unsynchronisation over utf-16 frames (the FF 00 rewrite actually
    fires on the BOMs) and did%20==15 docs ID3v2.4 PER-FRAME unsync
    with a data-length indicator on the title frame — both recovered,
    kind stays 'id3'. Values are ASCII so every encoding decodes
    identically and the oracle is pure arithmetic."""
    import struct

    tagless = did % 10 in (1, 6)
    title = f"t{did % 9}"
    artist = None if did % 5 == 0 else f"a{did % 7}"
    album = None if did % 3 == 0 else f"b{did % 4}"
    fields = (
        ("TITLE", title), ("ARTIST", artist), ("ALBUM", album)
    )
    if did % 10 == 2:
        vendor = b"ref-flac-writer"
        comments = [
            struct.pack("<I", len(c)) + c
            for k, v in fields
            if v is not None
            for c in (f"{k}={v}".encode(),)
        ]
        vc = (
            struct.pack("<I", len(vendor)) + vendor
            + struct.pack("<I", len(comments)) + b"".join(comments)
        )
        streaminfo = bytes([0]) + (34).to_bytes(3, "big") + b"\x00" * 34
        return (
            b"fLaC" + streaminfo
            + bytes([0x80 | 4]) + len(vc).to_bytes(3, "big") + vc
        )
    if did % 10 == 7:
        vendor = b"v" * 260  # forces the comment packet past one page
        comments = [
            struct.pack("<I", len(c)) + c
            for k, v in fields
            if v is not None
            for c in (f"{k}={v}".encode(),)
        ]
        vc = (
            struct.pack("<I", len(vendor)) + vendor
            + struct.pack("<I", len(comments)) + b"".join(comments)
        )
        magic = b"\x03vorbis" if did % 20 == 7 else b"OpusTags"
        cpkt = magic + vc

        def ogg_page(serial, lacings, payload):
            return (
                b"OggS\x00\x00" + b"\x00" * 8
                + struct.pack("<I", serial) + struct.pack("<I", 0)
                + b"\x00" * 4 + bytes([len(lacings)])
                + bytes(lacings) + payload
            )

        idpkt = (b"\x01vorbis" if did % 20 == 7 else b"OpusHead")
        idpkt += b"\x00" * 22
        assert 255 < len(cpkt) < 510
        return (
            ogg_page(7, [len(idpkt)], idpkt)
            + ogg_page(7, [255], cpkt[:255])
            + ogg_page(99, [5], b"junk!")  # other-serial interloper
            + ogg_page(7, [len(cpkt) - 255], cpkt[255:])
        )
    if did % 2 == 0:
        data = struct.pack("<4h", 10, -10, 20, -20)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = b"fmt " + struct.pack("<I", 16) + fmt
        chunks += b"data" + struct.pack("<I", len(data)) + data
        if not tagless:
            info = b"INFO"
            for sid, val in (
                (b"INAM", title), (b"IART", artist), (b"IPRD", album)
            ):
                if val is None:
                    continue
                v = val.encode("latin-1") + b"\x00"
                info += sid + struct.pack("<I", len(v)) + v
                if len(v) % 2:
                    info += b"\x00"
            chunks += b"LIST" + struct.pack("<I", len(info)) + info
        return (
            b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks
        )
    frame = _mpeg_l3_frame(did, mono=True)
    if tagless:
        return frame
    if did % 10 == 9:
        def pad30(v):
            return (v or "").encode("latin-1").ljust(30, b"\x00")

        return (
            frame + b"TAG" + pad30(title) + pad30(artist)
            + pad30(album) + b"2024" + b"\x00" * 30 + b"\xff"
        )
    def syncsafe4(n):
        return bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F,
             (n >> 7) & 0x7F, n & 0x7F]
        )

    unsync_tag = did % 10 == 3       # v2.3 tag-level unsync
    unsync_frames = did % 20 == 15   # v2.4 per-frame unsync (+DLI)
    if unsync_tag:
        major, enc = 3, 1            # utf-16 BOMs put real FFs in
    elif unsync_frames:
        major, enc = 4, 1
    else:
        major = 4 if did % 4 == 3 else 3
        enc = 3 if did % 7 == 1 else 0
    frames = b""
    for fid, val in (
        (b"TIT2", title), (b"TPE1", artist), (b"TALB", album)
    ):
        if val is None:
            continue
        body = bytes([enc]) + val.encode(
            "utf-16" if enc == 1 else "utf-8"
        )
        flags2 = 0
        if unsync_frames:
            stored = body.replace(b"\xff", b"\xff\x00")
            flags2 = 0x02
            if fid == b"TIT2":  # data-length indicator on one frame
                stored = syncsafe4(len(body)) + stored
                flags2 = 0x03
            body = stored
        n = len(body)
        szb = syncsafe4(n) if major == 4 else struct.pack(">I", n)
        frames += fid + szb + b"\x00" + bytes([flags2]) + body
    tag_flags = 0
    if unsync_tag:
        # tag-level unsync is the LAST write step: frame sizes above
        # describe the raw bodies, the substitution runs over the
        # whole assembled tag body
        frames = frames.replace(b"\xff", b"\xff\x00")
        tag_flags = 0x80
    tag_sz = len(frames)
    hdr = (
        b"ID3" + bytes([major, 0, tag_flags]) + syncsafe4(tag_sz)
    )
    return hdr + frames + frame


def q_audio_tags(spark, sf_dir):
    """Audio metadata tags (multimodal.py audio_tags — NEW r17): ID3v2
    text frames (TIT2/TPE1/TALB, v2.3 + v2.4 syncsafe, utf-8 and
    latin-1 encoding bytes) and RIFF LIST-INFO (INAM/IART/IPRD) —
    the by-artist/by-ripper triage and pre-decode dedup key for
    crawled audio, the image_provenance analogue. r18: FLAC
    VORBIS_COMMENT and OGG Vorbis/Opus comment packets (page-spanning
    lacing) cycle in as kinds 'flac'/'ogg', and two ID3v2
    unsynchronisation slots (v2.3 tag-level, v2.4 per-frame + DLI)
    pin the FF 00 recovery path. All carrying forms, absent-field
    NULLs, and the tagless 'none' path cycle in the checked row; the
    oracle is pure doc_id arithmetic."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from lotad_spark.pipeline.multimodal import audio_tags

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [
                _audio_tags_fixture(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    media = docs.mapInPandas(
        build, schema="media_id bigint, content binary"
    )
    return audio_tags(media)


_AUDIO_TAGS_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 10 IN (1, 6) THEN 'none' "
    "WHEN doc_id % 10 = 9 THEN 'id3v1' "
    "WHEN doc_id % 10 = 2 THEN 'flac' "
    "WHEN doc_id % 10 = 7 THEN 'ogg' "
    "WHEN doc_id % 2 = 0 THEN 'riff' ELSE 'id3' END AS kind, "
    "CASE WHEN doc_id % 10 IN (1, 6) THEN NULL "
    "ELSE 't' || CAST(doc_id % 9 AS VARCHAR) END AS title, "
    "CASE WHEN doc_id % 10 IN (1, 6) OR doc_id % 5 = 0 THEN NULL "
    "ELSE 'a' || CAST(doc_id % 7 AS VARCHAR) END AS artist, "
    "CASE WHEN doc_id % 10 IN (1, 6) OR doc_id % 3 = 0 THEN NULL "
    "ELSE 'b' || CAST(doc_id % 4 AS VARCHAR) END AS album "
    "FROM documents"
)


def _flac_stats_payload(did: int) -> bytes:
    """A FLAC stream whose STREAMINFO carries arithmetic stats:
    sample rate 8000·(did%3+1), channels did%2+1, total samples
    (did%50+1)·1000 — packed per the spec's 20/3/5/36-bit layout,
    bits-per-sample fixed at 16."""
    sr = 8000 * (did % 3 + 1)
    ch = did % 2 + 1
    total = (did % 50 + 1) * 1000
    packed = (sr << 44) | ((ch - 1) << 41) | (15 << 36) | total
    streaminfo = (
        b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
    )
    return (
        b"fLaC"
        + bytes([0x80 | 0]) + len(streaminfo).to_bytes(3, "big")
        + streaminfo
    )


def _ogg_stats_payload(did: int) -> bytes:
    """An OGG stream for the stats face: Vorbis on did%12==1 (ID
    header rate 8000·(did%4+1)), Opus on did%12==7 (48 kHz granules,
    pre-skip 312 subtracted per RFC 7845); channels did%2+1; the
    LAST page's granule position encodes (did%40+1)·500 output
    sample frames. An interloper page from another serial rides
    between them so the serial filter is exercised in the row."""
    import struct

    ch = did % 2 + 1
    nf = (did % 40 + 1) * 500
    if did % 12 == 1:
        idpkt = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([ch])
            + struct.pack("<I", 8000 * (did % 4 + 1)) + b"\x00" * 13
        )
        granule = nf
    else:
        idpkt = (
            b"OpusHead\x01" + bytes([ch]) + struct.pack("<H", 312)
            + struct.pack("<I", 48000) + b"\x00\x00\x00"
        )
        granule = nf + 312

    def page(serial, granule, payload):
        lacings = []
        rest = len(payload)
        while rest >= 255:
            lacings.append(255)
            rest -= 255
        lacings.append(rest)
        return (
            b"OggS\x00\x00" + struct.pack("<q", granule)
            + struct.pack("<I", serial) + struct.pack("<I", 0)
            + b"\x00" * 4 + bytes([len(lacings)]) + bytes(lacings)
            + payload
        )

    return (
        page(5, 0, idpkt)
        + page(77, 999, b"wrong-serial")
        + page(5, granule, b"\xaa" * 40)
    )


def _doc_audio_media(spark, sf_dir):
    """The audio_stats fixture (r17; flac/ogg r18): every ``doc_id %
    6 == 5`` doc is the :func:`_mp3_payload` MPEG stream (header-walk
    face), every ``%6==3`` the :func:`_flac_stats_payload` FLAC
    (STREAMINFO face), every ``%6==1`` the :func:`_ogg_stats_payload`
    OGG Vorbis/Opus (granule face), the rest the :func:`_wav_payload`
    PCM WAV (full-decode face) — four container kinds cycle IN the
    checked row."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 6 == 5:
                    payloads.append(_mp3_payload(did))
                elif did % 6 == 3:
                    payloads.append(_flac_stats_payload(did))
                elif did % 6 == 1:
                    payloads.append(_ogg_stats_payload(did))
                else:
                    payloads.append(_wav_payload(did, text))
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_audio_hist(spark, sf_dir):
    """REAL audio-sample extraction (pipeline/multimodal.py
    extract_audio_hist): the kernel walks the RIFF chunks, decodes the
    ACTUAL 16-bit PCM samples, and histograms amplitude into 16 even
    bins over the signed range — all-integer arithmetic, so the oracle
    replays byte pairing (little-endian), the signed-offset bin map
    ((u + 32768) % 65536 · 16 // 65536), and the counts exactly in
    SQL. The constant kind='pcm' pins that the real decode path ran
    for every row (a fallback row reads 'bytes' and hash-mismatches)."""
    from lotad_spark.pipeline.multimodal import extract_audio_hist

    return extract_audio_hist(_doc_wav_media(spark, sf_dir)).select(
        "media_id",
        "kind",
        "sample_rate",
        "n_frames",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


def q_audio_stats(spark, sf_dir):
    """Audio curation stats (multimodal.py audio_stats — r16; MP3 face
    r17): duration/peak/energy in exact integer arithmetic over REAL
    decoded PCM samples (energy = Σ s² is the stored form; RMS needs
    sqrt, so it derives at display time), and for every 6th doc an
    MPEG1 Layer III stream whose duration/rate/channels come off the
    frame-header walk alone — peak/energy honestly NULL (amplitude
    needs the DCT synthesis this path refuses to fake). r18 faces:
    every %6==3 doc is FLAC (STREAMINFO 20/3/5/36-bit pack → rate/
    channels/total-samples) and every %6==1 doc OGG — Vorbis ID
    header on %12==1, OpusHead with the RFC 7845 48 kHz granules and
    pre-skip subtraction on %12==7 — with length off the LAST page's
    granule position past an other-serial interloper page. The
    oracle re-derives the WAV stats from the text bytes as
    little-endian signed 16-bit samples and the header-face stats as
    pure doc_id arithmetic."""
    from lotad_spark.pipeline.multimodal import audio_stats

    return audio_stats(_doc_audio_media(spark, sf_dir))


_AUDIO_STATS_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, doc_id AS did, "
    "CAST((doc_id % 5 + 2) * 4 AS BIGINT) AS nf, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * 4 * 2 AS INT), 'x') AS px FROM documents), "
    "sl AS (SELECT media_id, did, nf, list_transform("
    "list_transform(range(0, nf), i -> ord(substr(px, 2 * i + 1, 1)) "
    "+ 256 * ord(substr(px, 2 * i + 2, 1))), "
    "u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS s "
    "FROM base) "
    "SELECT media_id, "
    "CASE WHEN did % 6 = 5 THEN 'mp3' WHEN did % 6 = 3 THEN 'flac' "
    "WHEN did % 6 = 1 THEN 'ogg' ELSE 'pcm' END AS kind, "
    "CAST(CASE WHEN did % 6 = 5 THEN 32000 "
    "WHEN did % 6 = 3 THEN 8000 * (did % 3 + 1) "
    "WHEN did % 6 = 1 THEN (CASE WHEN did % 12 = 1 "
    "THEN 8000 * (did % 4 + 1) ELSE 48000 END) "
    "ELSE 8000 END AS INT) AS sample_rate, "
    "CAST(CASE WHEN did % 6 = 5 THEN "
    "CASE WHEN (did // 6) % 2 = 0 THEN 1 ELSE 2 END "
    "WHEN did % 6 IN (3, 1) THEN did % 2 + 1 "
    "ELSE 1 END AS INT) AS n_channels, "
    "CAST(CASE WHEN did % 6 = 5 THEN 1152 * (did % 4 + 2) "
    "WHEN did % 6 = 3 THEN (did % 50 + 1) * 1000 "
    "WHEN did % 6 = 1 THEN (did % 40 + 1) * 500 "
    "ELSE nf END AS BIGINT) AS n_frames, "
    "CAST(CASE WHEN did % 6 = 5 THEN 36 * (did % 4 + 2) "
    "WHEN did % 6 = 3 THEN (did % 50 + 1) * 1000 * 1000 "
    "// (8000 * (did % 3 + 1)) "
    "WHEN did % 6 = 1 THEN (CASE WHEN did % 12 = 1 "
    "THEN (did % 40 + 1) * 500 * 1000 // (8000 * (did % 4 + 1)) "
    "ELSE (did % 40 + 1) * 500 * 1000 // 48000 END) "
    "ELSE nf * 1000 // 8000 END AS BIGINT) AS duration_ms, "
    "CAST(CASE WHEN did % 6 IN (5, 3, 1) THEN NULL ELSE "
    "coalesce(list_aggregate(list_transform(s, x -> abs(x)), "
    "'max'), 0) END AS INT) AS peak_abs, "
    "CAST(CASE WHEN did % 6 IN (5, 3, 1) THEN NULL ELSE "
    "coalesce(list_aggregate(list_transform(s, x -> x * x), "
    "'sum'), 0) END AS BIGINT) AS energy FROM sl"
)


_MULTIMODAL_AUDIO_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST((doc_id % 5 + 2) * 4 AS BIGINT) AS nf, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * 4 * 2 AS INT), 'x') AS px FROM documents), "
    "bins AS (SELECT media_id, nf, list_transform(range(0, nf), "
    "i -> ((ord(substr(px, 2 * i + 1, 1)) "
    "+ 256 * ord(substr(px, 2 * i + 2, 1)) + 32768) % 65536) "
    "* 16 // 65536) AS bl FROM base) "
    "SELECT media_id, 'pcm' AS kind, 8000 AS sample_rate, "
    "nf AS n_frames, "
    "array_to_string(list_transform(range(0, 16), b -> "
    "CAST(len(list_filter(bl, x -> x = b)) AS VARCHAR)), ',') AS hist "
    "FROM bins"
)


def _avi_payload(did: int, text) -> bytes:
    """One doc as a VALID uncompressed 24-bpp RIFF/AVI whose frame
    rasters are the doc's text rpad/truncated to n_frames·12·h bytes
    (w fixed at 4 so the stride needs no padding; h and n_frames
    derived from doc_id); the SQL oracle indexes the SAME text bytes
    per sampled frame, so the chunk walk, frame split, BGR ordering,
    and luma arithmetic are value-checked byte for byte."""
    import struct

    def chunk(cid, body):
        return (
            cid
            + struct.pack("<I", len(body))
            + body
            + (b"\0" if len(body) % 2 else b"")
        )

    w, h = 4, did % 2 + 1
    nf = did % 3 + 1
    per = w * 3 * h
    data = (text or "").encode("utf-8")[: nf * per].ljust(nf * per, b"x")
    avih = (
        struct.pack("<8I", 40000, 0, 0, 0, nf, 0, 1, 0)
        + struct.pack("<II", w, h)
        + b"\0" * 16
    )
    strf = struct.pack("<IiiHHII", 40, w, h, 1, 24, 0, 0) + b"\0" * 16
    hdrl = chunk(
        b"LIST",
        b"hdrl"
        + chunk(b"avih", avih)
        + chunk(b"LIST", b"strl" + chunk(b"strf", strf)),
    )
    movi = chunk(
        b"LIST",
        b"movi"
        + b"".join(
            chunk(b"00db", data[f * per : (f + 1) * per])
            for f in range(nf)
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp4_payload(did: int) -> bytes:
    """One doc as a VALID header-only ISO-BMFF MP4 (r17): ftyp + moov
    with mvhd (timescale 1000, duration (did%7+1)·250 → duration_ms is
    pure doc_id math), a video trak (tkhd 16.16 dims (did%3+2) ×
    (did%2+2), mdhd timescale 90000, single-entry stts of did%4+2
    samples at delta 3000 → usec_per_frame 33333 exactly), and on
    every (did//5)%2==1 doc an AUDIO trak (0×0 tkhd dims) FIRST — the
    parser must skip it to find the video trak. An empty mdat closes
    the file."""
    import struct

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def full(t, body):
        return box(t, b"\x00\x00\x00\x00" + body)

    unity = struct.pack(
        ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )

    def tkhd(w, h):
        return full(
            b"tkhd",
            struct.pack(">IIIII", 0, 0, 1, 0, 0)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + unity
            + struct.pack(">II", w << 16, h << 16),
        )

    def trak(w, h, mts, entries):
        stts = full(
            b"stts",
            struct.pack(">I", len(entries))
            + b"".join(struct.pack(">II", c, d) for c, d in entries),
        )
        mdhd = full(
            b"mdhd",
            struct.pack(">IIII", 0, 0, mts, 0)
            + struct.pack(">HH", 0, 0),
        )
        return box(
            b"trak",
            tkhd(w, h)
            + box(b"mdia", mdhd + box(b"minf", box(b"stbl", stts))),
        )

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, 1000, (did % 7 + 1) * 250)
        + struct.pack(">IHH", 0x10000, 0x100, 0)
        + b"\x00" * 8
        + unity
        + b"\x00" * 24
        + struct.pack(">I", 3),
    )
    video = trak(did % 3 + 2, did % 2 + 2, 90000, [(did % 4 + 2, 3000)])
    traks = video
    if (did // 5) % 2 == 1:
        traks = trak(0, 0, 44100, [(10, 1024)]) + video
    return ftyp + box(b"moov", mvhd + traks) + box(b"mdat", b"")


def _doc_avi_media(spark, sf_dir):
    """Every doc as the :func:`_avi_payload` AVI — the video-hist and
    scene-cut fixture (all-AVI by design: those rows pin real frame
    decode for every row)."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = [
                _avi_payload(int(did), text)
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def _ebml_el(eid: int, body: bytes) -> bytes:
    """Minimal EBML element writer for the webm fixtures: marker-kept
    ID bytes + a 1-or-2-byte size vint + body."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(body)
    size = bytes([0x80 | n]) if n < 0x7F else (0x4000 | n).to_bytes(2, "big")
    return idb + size + body


def _webm_payload(did: int) -> bytes:
    """One Matroska/WebM container per doc (r18): doctype webm/
    matroska by did%2; Info Duration (did%13+1)·125 ms at the default
    10⁶ TimestampScale; an audio TrackEntry FIRST (dims must come
    from the video track); video PixelWidth/Height did%9+16 ×
    did%6+9; DefaultDuration (did%3+2)·10⁷ ns absent when did%4==1;
    WritingApp 'wa-'||did%5 absent when did%5==3 (encoder then falls
    back to the always-present MuxingApp 'mux-'||did%7); Info Title
    'mt'||did%3 absent when did%3==0; an ARTIST SimpleTag
    'ma'||did%4 absent when did%4==1 — placed AFTER a sized junk
    Cluster so the step-over behavior is pinned IN the checked row."""
    import struct

    from lotad_spark.pipeline import multimodal as M

    header = _ebml_el(
        int.from_bytes(M._EBML_MAGIC, "big"),
        _ebml_el(
            M._EBML_ID_DOCTYPE,
            b"webm" if did % 2 == 0 else b"matroska",
        ),
    )
    info = _ebml_el(
        M._EBML_ID_TIMESTAMP_SCALE, (1_000_000).to_bytes(4, "big")
    ) + _ebml_el(
        M._EBML_ID_DURATION,
        struct.pack(">d", float((did % 13 + 1) * 125)),
    )
    if did % 3 != 0:
        info += _ebml_el(
            M._EBML_ID_TITLE, f"mt{did % 3}".encode()
        )
    if did % 5 != 3:
        info += _ebml_el(
            M._EBML_ID_WRITING_APP, f"wa-{did % 5}".encode()
        )
    info += _ebml_el(M._EBML_ID_MUXING_APP, f"mux-{did % 7}".encode())
    video = _ebml_el(
        M._EBML_ID_VIDEO,
        _ebml_el(M._EBML_ID_PIXEL_WIDTH, (did % 9 + 16).to_bytes(2, "big"))
        + _ebml_el(M._EBML_ID_PIXEL_HEIGHT, (did % 6 + 9).to_bytes(2, "big")),
    )
    ventry = _ebml_el(M._EBML_ID_TRACK_TYPE, b"\x01") + video
    if did % 4 != 1:
        ventry += _ebml_el(
            M._EBML_ID_DEFAULT_DURATION,
            ((did % 3 + 2) * 10_000_000).to_bytes(4, "big"),
        )
    tracks = _ebml_el(
        M._EBML_ID_TRACKS,
        _ebml_el(
            M._EBML_ID_TRACK_ENTRY,
            _ebml_el(M._EBML_ID_TRACK_TYPE, b"\x02"),
        )
        + _ebml_el(M._EBML_ID_TRACK_ENTRY, ventry),
    )
    seg = _ebml_el(M._EBML_ID_INFO, info) + tracks
    seg += _ebml_el(M._EBML_ID_CLUSTER, b"\xde\xad" * 30)
    if did % 4 != 1:
        seg += _ebml_el(
            M._EBML_ID_TAGS,
            _ebml_el(
                M._EBML_ID_TAG,
                _ebml_el(
                    M._EBML_ID_SIMPLE_TAG,
                    _ebml_el(M._EBML_ID_TAG_NAME, b"ARTIST")
                    + _ebml_el(
                        M._EBML_ID_TAG_STRING, f"ma{did % 4}".encode()
                    ),
                ),
            ),
        )
    return header + _ebml_el(M._EBML_ID_SEGMENT, seg)


def _doc_video_media(spark, sf_dir):
    """The video_stats fixture (r17, webm r18): every ``doc_id % 5 ==
    2`` doc is the :func:`_mp4_payload` header-only MP4 (box-walk
    face), every ``doc_id % 5 == 4`` the :func:`_webm_payload`
    Matroska/WebM (EBML varint face), the rest the
    :func:`_avi_payload` AVI (chunk-walk face) — all three container
    kinds cycle IN the checked row."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 5 == 2:
                    payloads.append(_mp4_payload(did))
                elif did % 5 == 4:
                    payloads.append(_webm_payload(did))
                else:
                    payloads.append(_avi_payload(did, text))
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def _video_tags_fixture(did: int) -> bytes:
    """One payload for the video_tags row (r17): an MP4 whose
    iTunes-style ilst carries encoder/title/artist by arithmetic
    (encoder 'enc-'||did%6 unless did%5==0, title 'vt'||did%3 unless
    did%3==1, artist 'va'||did%4 unless did%4==2 — did≡10 mod 60 has
    all three absent, the empty-ilst 'none' path); every did%7==6 doc
    ships the AVI payload instead (the non-ISO 'none' path). A
    non-text 'data' type (13 = JPEG cover art) rides along on every
    tagged doc so the UTF-8-only rule is exercised IN the row. r18:
    every remaining did%11==5 doc is the :func:`_webm_payload`
    Matroska container instead — WritingApp/MuxingApp → encoder,
    Info Title → title, the post-cluster ARTIST SimpleTag → artist."""
    import struct

    from lotad_spark.pipeline.multimodal import _iso_boxes

    if did % 7 == 6:
        return _avi_payload(did, None)
    if did % 11 == 5:
        return _webm_payload(did)

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def data_item(item4cc: bytes, value: str | None, dtype: int = 1):
        if value is None:
            return b""
        payload = value.encode("utf-8")
        d = box(
            b"data", struct.pack(">I", dtype) + b"\x00" * 4 + payload
        )
        return box(item4cc, d)

    encoder = None if did % 5 == 0 else f"enc-{did % 6}"
    title = None if did % 3 == 1 else f"vt{did % 3}"
    artist = None if did % 4 == 2 else f"va{did % 4}"
    ilst_body = (
        data_item(b"\xa9too", encoder)
        + data_item(b"\xa9nam", title)
        + data_item(b"\xa9ART", artist)
        # binary cover art (type 13): must be IGNORED by the
        # UTF-8-only rule even when a text field is absent
        + data_item(b"covr", "\xff\xd8fakejpeg", dtype=13)
    )
    meta = box(b"meta", b"\x00" * 4 + box(b"ilst", ilst_body))
    udta = box(b"udta", meta)
    base = _mp4_payload(did)
    # splice udta into moov: rebuild moov with udta appended
    for typ, body in _iso_boxes(base):
        if typ == b"moov":
            new_moov = box(b"moov", body + udta)
            idx = base.find(b"moov")
            old_len = len(body) + 8
            start = idx - 4
            return base[:start] + new_moov + base[start + old_len :]
    return base


def q_video_tags(spark, sf_dir):
    """MP4 metadata tags (multimodal.py video_tags — NEW r17): the
    iTunes-style ilst items ©too/©nam/©ART (encoder/title/artist) —
    encoders stamp ©too, so group-by-encoder is the transcode/
    generator triage for crawled video, completing the provenance
    family (image_provenance / audio_tags / video_tags). The fixture
    cycles absent fields, the all-absent empty-ilst path, the non-ISO
    path, and a binary cover-art item the UTF-8-only rule must skip;
    the oracle is pure doc_id arithmetic."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from lotad_spark.pipeline.multimodal import video_tags

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [
                _video_tags_fixture(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]].rename(
                columns={"doc_id": "media_id"}
            )

    media = docs.mapInPandas(
        build, schema="media_id bigint, content binary"
    )
    return video_tags(media)


_VIDEO_TAGS_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 7 = 6 THEN 'none' "
    "WHEN doc_id % 11 = 5 THEN "
    "(CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'mkv' END) "
    "WHEN doc_id % 5 = 0 AND doc_id % 3 = 1 AND doc_id % 4 = 2 "
    "THEN 'none' ELSE 'mp4' END AS kind, "
    "CASE WHEN doc_id % 7 = 6 THEN NULL "
    "WHEN doc_id % 11 = 5 THEN "
    "(CASE WHEN doc_id % 5 = 3 THEN 'mux-' || CAST(doc_id % 7 AS VARCHAR) "
    "ELSE 'wa-' || CAST(doc_id % 5 AS VARCHAR) END) "
    "WHEN doc_id % 5 = 0 THEN NULL "
    "ELSE 'enc-' || CAST(doc_id % 6 AS VARCHAR) END AS encoder, "
    "CASE WHEN doc_id % 7 = 6 THEN NULL "
    "WHEN doc_id % 11 = 5 THEN "
    "(CASE WHEN doc_id % 3 = 0 THEN NULL "
    "ELSE 'mt' || CAST(doc_id % 3 AS VARCHAR) END) "
    "WHEN doc_id % 3 = 1 THEN NULL "
    "ELSE 'vt' || CAST(doc_id % 3 AS VARCHAR) END AS title, "
    "CASE WHEN doc_id % 7 = 6 THEN NULL "
    "WHEN doc_id % 11 = 5 THEN "
    "(CASE WHEN doc_id % 4 = 1 THEN NULL "
    "ELSE 'ma' || CAST(doc_id % 4 AS VARCHAR) END) "
    "WHEN doc_id % 4 = 2 THEN NULL "
    "ELSE 'va' || CAST(doc_id % 4 AS VARCHAR) END AS artist "
    "FROM documents"
)


def q_video_stats(spark, sf_dir):
    """Video curation stats (multimodal.py video_stats — r16; MP4 face
    r17): width/height/frame-count/frame-timing off the container
    header alone, duration in exact integer milliseconds — length and
    frame-rate filters for video corpora. Every doc_id%5==2 doc is a
    header-only ISO-BMFF MP4 (mvhd/tkhd/stts box walk — real crawled
    video is overwhelmingly MP4; half of them carry an audio trak the
    parser must skip), every doc_id%5==4 a Matroska/WebM (r18 — EBML
    varint walk, n_frames honestly NULL, a sized junk Cluster stepped
    over in every payload), the rest the AVI fixture
    (dwMicroSecPerFrame = 40000). GIF stays out by design — its
    timing is per-frame and covered by the scene-cut face. All three
    kinds' stats are pure doc_id arithmetic in the oracle."""
    from lotad_spark.pipeline.multimodal import video_stats

    return video_stats(_doc_video_media(spark, sf_dir))


_VIDEO_STATS_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 5 = 2 THEN 'mp4' "
    "WHEN doc_id % 5 = 4 THEN "
    "(CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'mkv' END) "
    "ELSE 'avi' END AS kind, "
    "CAST(CASE WHEN doc_id % 5 = 2 THEN doc_id % 3 + 2 "
    "WHEN doc_id % 5 = 4 THEN doc_id % 9 + 16 ELSE 4 END "
    "AS INT) AS width, "
    "CAST(CASE WHEN doc_id % 5 = 2 THEN doc_id % 2 + 2 "
    "WHEN doc_id % 5 = 4 THEN doc_id % 6 + 9 "
    "ELSE doc_id % 2 + 1 END AS INT) AS height, "
    "CAST(CASE WHEN doc_id % 5 = 2 THEN doc_id % 4 + 2 "
    "WHEN doc_id % 5 = 4 THEN NULL "
    "ELSE doc_id % 3 + 1 END AS INT) AS n_frames, "
    "CAST(CASE WHEN doc_id % 5 = 2 THEN CAST(3000 AS BIGINT) "
    "* 1000000 // 90000 "
    "WHEN doc_id % 5 = 4 THEN (CASE WHEN doc_id % 4 = 1 THEN NULL "
    "ELSE (doc_id % 3 + 2) * 10000 END) "
    "ELSE 40000 END AS BIGINT) AS usec_per_frame, "
    "CAST(CASE WHEN doc_id % 5 = 2 THEN (doc_id % 7 + 1) * 250 "
    "WHEN doc_id % 5 = 4 THEN (doc_id % 13 + 1) * 125 "
    "ELSE (doc_id % 3 + 1) * 40000 // 1000 END AS BIGINT) "
    "AS duration_ms FROM documents"
)


def q_multimodal_video_hist(spark, sf_dir):
    """REAL video-frame extraction (pipeline/multimodal.py
    extract_video_hist): walk the RIFF/AVI chunks, decode every 2nd
    uncompressed 24-bpp frame's ACTUAL raster (bottom-up, BGR), and
    luma-histogram the sampled pixels — all-integer arithmetic, so the
    oracle replays frame sampling, byte indexing (R/G/B at offsets
    3/2/1 of each on-disk BGR triple; the histogram is
    orientation-insensitive so the bottom-up flip drops out), luma,
    and binning exactly in SQL. kind='frames' pins the real decode
    path ran for every row."""
    from lotad_spark.pipeline.multimodal import extract_video_hist

    return extract_video_hist(
        _doc_avi_media(spark, sf_dir), every_nth=2
    ).select(
        "media_id",
        "kind",
        "n_frames",
        "n_sampled",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


_MULTIMODAL_VIDEO_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 2 + 1 AS BIGINT) AS h, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS nf, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 3 + 1) * 12 * (doc_id % 2 + 1) AS INT), 'x') AS px "
    "FROM documents), "
    "lum AS (SELECT media_id, nf, "
    "CAST(len(list_filter(range(0, nf), f -> f % 2 = 0)) AS BIGINT) "
    "AS ns, "
    "flatten(list_transform(list_filter(range(0, nf), f -> f % 2 = 0), "
    "f -> list_transform(range(0, 4 * h), p -> "
    "(299 * ord(substr(px, CAST(f * 12 * h + 3 * p + 3 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(f * 12 * h + 3 * p + 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(f * 12 * h + 3 * p + 1 AS INT), 1))"
    ") // 1000))) AS lumas FROM base) "
    "SELECT media_id, 'frames' AS kind, nf AS n_frames, "
    "ns AS n_sampled, "
    "array_to_string(list_transform(range(0, 16), b -> "
    "CAST(len(list_filter(lumas, l -> l * 16 // 256 = b)) "
    "AS VARCHAR)), ',') AS hist FROM lum"
)


def q_image_ahash(spark, sf_dir):
    """Perceptual image fingerprint (pipeline/multimodal.py
    image_ahash): decode the P6 pixels, 8×8 nearest-neighbor resample
    of the integer luma, floor mean, strict-greater bits packed as two
    non-negative 32-bit halves — every stage integer, so the oracle
    replays resample indices (i·dim // 8), luma, the mean, and the bit
    packing exactly in SQL. kind='ahash' pins the real decode path."""
    from lotad_spark.pipeline.multimodal import image_ahash

    return image_ahash(_doc_ppm_media(spark, sf_dir))


def q_image_dhash(spark, sf_dir):
    """Gradient perceptual fingerprint (pipeline/multimodal.py
    image_dhash — NEW r14, completing the standard aHash/dHash/pHash
    trio): decode the P6 pixels, 9×8 integer-luma resample,
    strict-greater horizontal-neighbor bits packed as two non-negative
    halves — every stage integer, so the oracle replays the 72-cell
    resample indices, luma, and the neighbor comparisons exactly in
    SQL. kind='dhash' pins the real decode path."""
    from lotad_spark.pipeline.multimodal import image_dhash

    return image_dhash(_doc_ppm_media(spark, sf_dir))


_IMAGE_DHASH_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 5 + 2 AS BIGINT) AS w, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS h, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
    "AS px FROM base0), "
    # 8 rows × 9 cols of luma, row-major: cell i samples source pixel
    # (row·h//8, col·w//9) with row=i//9, col=i%9
    "cells AS (SELECT media_id, list_transform(range(0, 72), i -> "
    "(299 * ord(substr(px, CAST(3 * (((i // 9) * h // 8) * w "
    "+ ((i % 9) * w // 9)) + 1 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(3 * (((i // 9) * h // 8) * w "
    "+ ((i % 9) * w // 9)) + 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(3 * (((i // 9) * h // 8) * w "
    "+ ((i % 9) * w // 9)) + 3 AS INT), 1))) // 1000) AS cl "
    "FROM base) "
    "SELECT media_id, 'dhash' AS kind, "
    "CAST(list_sum(list_transform(range(32, 64), i -> "
    "CASE WHEN cl[CAST((i // 8) * 9 + (i % 8) + 1 AS INT)] "
    "> cl[CAST((i // 8) * 9 + (i % 8) + 2 AS INT)] "
    "THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)) AS BIGINT) "
    "AS dhash_hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST((i // 8) * 9 + (i % 8) + 1 AS INT)] "
    "> cl[CAST((i // 8) * 9 + (i % 8) + 2 AS INT)] "
    "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) "
    "AS dhash_lo FROM cells"
).replace("FROM base0", "FROM documents")


def q_image_phash(spark, sf_dir):
    """Spectral perceptual fingerprint (pipeline/multimodal.py
    image_phash — NEW r14, the DCT twin of aHash): decode the P6
    pixels, 32×32 integer-luma resample, SEPARABLE fixed-point DCT
    with the _PHASH_DCT14 integer basis (no engine ever calls cos —
    the oracle embeds the same 256 literals), median-threshold the 63
    low-frequency AC terms (the 32nd smallest — an exact integer order
    statistic), strict-greater bits packed as two non-negative halves.
    Every stage is int64-exact, so the oracle replays resample
    indices, both matmuls, the order statistic, and the packing in
    SQL. kind='phash' pins the real decode path; exact-invariance to
    uniform brightness shifts is pytest-pinned (the DCT basis rows
    u>=1 sum to exactly 0)."""
    from lotad_spark.pipeline.multimodal import image_phash

    return image_phash(_doc_ppm_media(spark, sf_dir))


def _image_phash_sql():
    from lotad_spark.pipeline.multimodal import _PHASH_DCT14

    basis = ", ".join(
        str(v) for row in _PHASH_DCT14 for v in row
    )  # flat M[u*32 + x], 256 literals shared verbatim with Spark
    luma_at = (
        "(299 * ord(substr(px, CAST(3 * (((i // 32) * h // 32) * w "
        "+ ((i % 32) * w // 32)) + 1 AS INT), 1)) "
        "+ 587 * ord(substr(px, CAST(3 * (((i // 32) * h // 32) * w "
        "+ ((i % 32) * w // 32)) + 2 AS INT), 1)) "
        "+ 114 * ord(substr(px, CAST(3 * (((i // 32) * h // 32) * w "
        "+ ((i % 32) * w // 32)) + 3 AS INT), 1))) // 1000"
    )
    return (
        "WITH mm AS (SELECT [" + basis + "] AS m), "
        "base AS (SELECT doc_id AS media_id, "
        "CAST(doc_id % 5 + 2 AS BIGINT) AS w, "
        "CAST(doc_id % 3 + 1 AS BIGINT) AS h, "
        "rpad(coalesce(text, ''), "
        "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
        "AS px FROM documents), "
        # 32×32 luma resample, row-major (i = y*32 + x)
        "cells AS (SELECT media_id, list_transform(range(0, 1024), "
        "i -> " + luma_at + ") AS L FROM base, mm), "
        # T[u][y] = Σ_x M[u][x]·L[x·32 + y]  (flat t = u*32 + y)
        "tt AS (SELECT media_id, L, list_transform(range(0, 256), "
        "t -> list_sum(list_transform(range(0, 32), x -> "
        "m[CAST((t // 32) * 32 + x + 1 AS INT)] "
        "* L[CAST(x * 32 + (t % 32) + 1 AS INT)]))) AS T "
        "FROM cells, mm), "
        # C[u][v] = Σ_y T[u·32+y]·M[v·32+y]  (flat uv = u*8 + v)
        "cc AS (SELECT media_id, list_transform(range(0, 64), "
        "uv -> list_sum(list_transform(range(0, 32), y -> "
        "T[CAST((uv // 8) * 32 + y + 1 AS INT)] "
        "* m[CAST((uv % 8) * 32 + y + 1 AS INT)]))) AS C "
        "FROM tt, mm), "
        "ac AS (SELECT media_id, C[2:64] AS a FROM cc), "
        "md AS (SELECT media_id, a, list_sort(a)[32] AS med FROM ac) "
        "SELECT media_id, 'phash' AS kind, "
        "CAST(list_sum(list_transform(range(32, 63), i -> "
        "CASE WHEN a[CAST(i + 1 AS INT)] > med "
        "THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)) AS BIGINT) "
        "AS phash_hi, "
        "CAST(list_sum(list_transform(range(0, 32), i -> "
        "CASE WHEN a[CAST(i + 1 AS INT)] > med "
        "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) "
        "AS phash_lo FROM md"
    )


_IMAGE_AHASH_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 5 + 2 AS BIGINT) AS w, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS h, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
    "AS px FROM documents), "
    # 64 resampled cells, row-major: cell i samples source pixel
    # (y·h//8, x·w//8) with y=i//8, x=i%8; luma over the BGR-free P6
    # RGB triple at 3·idx
    "cells AS (SELECT media_id, list_transform(range(0, 64), i -> "
    "(299 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 1 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 3 AS INT), 1))) // 1000) AS cl "
    "FROM base), "
    "m AS (SELECT media_id, cl, list_sum(cl) // 64 AS mean FROM cells) "
    "SELECT media_id, 'ahash' AS kind, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 33 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS ahash_hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 1 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS ahash_lo FROM m"
)


def q_image_near_dup_pairs(spark, sf_dir):
    """Image near-duplicate pairing (multimodal.py
    image_near_dup_pairs — registry row NEW r18; operator landed r14):
    (id_a, id_b, hamming) for decodable pairs within 7 fingerprint
    bits via simhash-style banding — 64-bit aHash splits into 8
    slices, candidates share a (slice, value) bucket, verification is
    exact xor/bit_count on bucket-local candidates only. Pigeonhole
    makes recall EXACT for max_hamming ≤ bands−1, so the DuckDB
    oracle is the BRUTE-FORCE all-pairs join over the same replayed
    hashes — any banding bug (lost bucket, wrong slice arithmetic,
    dropped candidate) shows up as a missing pair against the
    exhaustive ground truth. Never all-pairs in Spark: the join is
    bucket-local, same scale shape as the text SimHash path."""
    from lotad_spark.pipeline.multimodal import image_near_dup_pairs

    return image_near_dup_pairs(
        _doc_ppm_media(spark, sf_dir),
        max_hamming=7,
        bands=8,
        hash_kind="ahash",
    )


_IMAGE_NEAR_DUP_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 5 + 2 AS BIGINT) AS w, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS h, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
    "AS px FROM documents), "
    "cells AS (SELECT media_id, list_transform(range(0, 64), i -> "
    "(299 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 1 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(3 * (((i // 8) * h // 8) * w "
    "+ ((i % 8) * w // 8)) + 3 AS INT), 1))) // 1000) AS cl "
    "FROM base), "
    "m AS (SELECT media_id, cl, list_sum(cl) // 64 AS mean FROM cells), "
    "hashes AS (SELECT media_id, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 33 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 1 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS lo FROM m) "
    "SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) "
    "AS INT) AS hamming "
    "FROM hashes a JOIN hashes b ON a.media_id < b.media_id "
    "WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) "
    "<= 7"
)


def _office_payload(did: int, text) -> bytes:
    """One office/zip payload per doc (r18): did%7==2 docs are plain
    bytes (the 'none' path); otherwise did%3 cycles (0) a DOCX whose
    word/document.xml carries the doc text in one xml:space-preserved
    run (XML-escaped on write, so extraction must unescape to round-
    trip), (1) an EPUB whose single spine chapter holds the text in a
    <p>, (2) a plain ZIP of did%5+1 members (kind='zip', NULL text).
    Archives are built with stdlib zipfile — an INDEPENDENT writer
    from the hand-rolled central-directory reader under test."""
    import io
    import zipfile

    if did % 7 == 2:
        return b"plain bytes " + str(did).encode()

    def make(items):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for n, d in items:
                zi = zipfile.ZipInfo(n, date_time=(1980, 1, 1, 0, 0, 0))
                z.writestr(zi, d)
        return buf.getvalue()

    t = text or ""
    esc = (
        t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    v = did % 3
    if v == 0:
        return make([
            ("[Content_Types].xml", "<Types/>"),
            (
                "word/document.xml",
                "<w:document><w:body><w:p><w:r>"
                f'<w:t xml:space="preserve">{esc}</w:t>'
                "</w:r></w:p></w:body></w:document>",
            ),
        ])
    if v == 1:
        return make([
            ("mimetype", "application/epub+zip"),
            (
                "META-INF/container.xml",
                "<container><rootfiles><rootfile "
                'full-path="OEBPS/content.opf"/></rootfiles>'
                "</container>",
            ),
            (
                "OEBPS/content.opf",
                '<package><manifest><item id="c1" href="ch1.xhtml"/>'
                '</manifest><spine><itemref idref="c1"/></spine>'
                "</package>",
            ),
            ("OEBPS/ch1.xhtml", f"<html><body><p>{esc}</p></body></html>"),
        ])
    return make([(f"m{i}.txt", f"member {i}") for i in range(did % 5 + 1)])


def q_office_extract(spark, sf_dir):
    """Office-document extraction (pipeline/office.py office_extract —
    NEW r18): DOCX and EPUB are ZIP archives of XML — the largest
    crawled document family after PDF/HTML, previously unreadable by
    this engine. A hand-rolled bounded central-directory walk (budgeted
    inflate, ZIP64/bomb refusal) feeds w:t-run / spine-chapter text
    extraction; the fixture writes archives with stdlib zipfile (an
    independent writer) carrying each doc's text, so extraction must
    round-trip BYTE-EXACTLY through the escape/unescape and
    deflate/inflate pair — the oracle is the documents table itself
    plus kind/member arithmetic."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from lotad_spark.pipeline.office import office_extract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = [
                _office_payload(int(did), text)
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf.assign(content=payloads)[["doc_id", "content"]]

    media = docs.mapInPandas(build, schema="doc_id bigint, content binary")
    return office_extract(media)


_OFFICE_EXTRACT_SQL = (
    "SELECT doc_id, "
    "CASE WHEN doc_id % 7 = 2 THEN 'none' "
    "WHEN doc_id % 3 = 0 THEN 'docx' "
    "WHEN doc_id % 3 = 1 THEN 'epub' ELSE 'zip' END AS kind, "
    "CASE WHEN doc_id % 7 = 2 OR doc_id % 3 = 2 THEN NULL "
    "ELSE coalesce(text, '') END AS text, "
    "CAST(CASE WHEN doc_id % 7 = 2 THEN NULL "
    "WHEN doc_id % 3 = 0 THEN 2 WHEN doc_id % 3 = 1 THEN 4 "
    "ELSE doc_id % 5 + 1 END AS INT) AS n_members FROM documents"
)


def q_video_scene_cuts(spark, sf_dir):
    """Scene-cut detection (pipeline/multimodal.py scene_cuts): decode
    every AVI frame, aHash each, flag frames whose hamming to the
    previous frame reaches the threshold. The oracle replays the
    per-frame hash — including the bottom-up flip (decoded row r reads
    source row h−1−r, and aHash is POSITION-sensitive, so the flip
    cannot drop out like it does for histograms) and the on-disk BGR
    byte order — plus the consecutive xor/bit_count hamming, all in
    SQL."""
    from lotad_spark.pipeline.multimodal import scene_cuts

    return scene_cuts(
        _doc_avi_media(spark, sf_dir), every_nth=1, cut_hamming=12
    )


# cell i of frame f: grid (y, x) = (i//8, i%8); resample
# (sy, sx) = (y·h//8, x·4//8); FLIP: source row h−1−sy; pixel index
# (h−1−sy)·4 + sx; on-disk BGR triple at byte base f·12h + 3·pidx →
# luma coefficients read R/G/B from offsets 3/2/1.
_VIDEO_SCENE_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 2 + 1 AS BIGINT) AS h, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS nf, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 3 + 1) * 12 * (doc_id % 2 + 1) AS INT), 'x') AS px "
    "FROM documents), "
    "fr AS (SELECT media_id, h, px, unnest(range(0, nf)) AS f "
    "FROM base), "
    "cl AS (SELECT media_id, f, list_transform(range(0, 64), i -> "
    "(299 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 3 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 1 AS INT), 1))) // 1000) AS cells FROM fr), "
    "m AS (SELECT media_id, f, cells, list_sum(cells) // 64 AS mean "
    "FROM cl), "
    "hashes AS (SELECT media_id, f, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cells[CAST(i + 33 AS INT)] > mean "
    "THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cells[CAST(i + 1 AS INT)] > mean "
    "THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS lo FROM m), "
    "seq AS (SELECT media_id, f, hi, lo, "
    "lag(hi) OVER (PARTITION BY media_id ORDER BY f) AS phi, "
    "lag(lo) OVER (PARTITION BY media_id ORDER BY f) AS plo "
    "FROM hashes) "
    "SELECT media_id, 'frames' AS kind, f AS frame_idx, "
    "CAST(CASE WHEN phi IS NULL THEN NULL ELSE "
    "bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) END AS INT) "
    "AS hamming_prev, "
    "coalesce(bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) >= 12, "
    "false) AS is_cut FROM seq"
)


def _doc_avi_pair_media(spark, sf_dir):
    """Near-dup VIDEO corpus: each doc's AVI is synthesized from its
    BUDDY's text (buddy = doc_id rounded down to even), so every
    even/odd pair is two cuts of the same source stream — and the odd
    doc's video carries ONE EXTRA trailing frame (the next chunk of
    the shared stream, 'x'-padded), the trim/re-encode shape
    cross-video near-dup exists to catch. Bounded to doc_id < 1000 so
    the all-pairs ORACLE replay stays cheap at every scale (the Spark
    side is banded and needs no such bound — the cap is an oracle-cost
    choice, stated, not a silent coverage claim). Geometry (h,
    n_frames) derives from the buddy id so paired videos agree."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    buddies = docs.select(
        F.col("doc_id").alias("_bid"), F.col("text").alias("_btext")
    )
    src = (
        docs.select(
            "doc_id",
            (F.col("doc_id") - F.col("doc_id") % 2).alias("_bid"),
        )
        .join(buddies, "_bid", "left")
        .select("doc_id", "_btext")
    )

    def build(batches):
        import struct

        def chunk(cid, body):
            return (
                cid
                + struct.pack("<I", len(body))
                + body
                + (b"\0" if len(body) % 2 else b"")
            )

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["_btext"]):
                did = int(did)
                bid = did - did % 2
                w, h = 4, bid // 2 % 2 + 1
                nf = bid // 2 % 3 + 1 + did % 2  # odd: one extra frame
                per = w * 3 * h
                data = (text or "").encode("utf-8")[: nf * per].ljust(
                    nf * per, b"x"
                )
                avih = (
                    struct.pack("<8I", 40000, 0, 0, 0, nf, 0, 1, 0)
                    + struct.pack("<II", w, h)
                    + b"\0" * 16
                )
                strf = (
                    struct.pack("<IiiHHII", 40, w, h, 1, 24, 0, 0)
                    + b"\0" * 16
                )
                hdrl = chunk(
                    b"LIST",
                    b"hdrl"
                    + chunk(b"avih", avih)
                    + chunk(b"LIST", b"strl" + chunk(b"strf", strf)),
                )
                movi = chunk(
                    b"LIST",
                    b"movi"
                    + b"".join(
                        chunk(b"00db", data[f * per : (f + 1) * per])
                        for f in range(nf)
                    ),
                )
                body = b"AVI " + hdrl + movi
                payloads.append(
                    b"RIFF" + struct.pack("<I", len(body)) + body
                )
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return src.mapInPandas(build, schema="media_id bigint, content binary")


def q_video_near_dup_pairs(spark, sf_dir):
    """Cross-video perceptual near-dup (pipeline/multimodal.py
    video_near_dup_pairs): per-video scene signature (distinct aHashes
    of scene-START frames via a JVM lag window over the per-frame hash
    kernel) → banded pairing (pigeonhole-exact for any matching scene
    within max_hamming ≤ bands−1) → symmetric scene-coverage verify.
    The oracle replays the ENTIRE chain in SQL — frame pixel indexing
    (bottom-up flip, BGR order), per-frame aHash, lag-based scene
    starts, ALL-pairs min-hamming matching (equal to the banded result
    by the pigeonhole guarantee, since min_coverage > 0 requires ≥1
    matched scene), and the exact micro-unit coverage ratio."""
    from lotad_spark.pipeline.multimodal import video_near_dup_pairs

    return video_near_dup_pairs(
        _doc_avi_pair_media(spark, sf_dir),
        every_nth=1,
        cut_hamming=12,
        max_hamming=3,
        bands=8,
        min_coverage=0.5,
    )


# Frame/pixel replay of _doc_avi_pair_media: buddy text (doc_id - id%2)
# rpad/truncated to nf·12·h bytes; cell i of frame f reads the flipped
# BGR raster exactly as _VIDEO_SCENE_SQL documents.
_VIDEO_NEAR_DUP_SQL = (
    "WITH base AS (SELECT d.doc_id AS media_id, "
    "CAST((d.doc_id - d.doc_id % 2) // 2 % 2 + 1 AS BIGINT) AS h, "
    "CAST((d.doc_id - d.doc_id % 2) // 2 % 3 + 1 + d.doc_id % 2 "
    "AS BIGINT) AS nf, "
    "rpad(coalesce(b.text, ''), "
    "CAST(((d.doc_id - d.doc_id % 2) // 2 % 3 + 1 + d.doc_id % 2) "
    "* 12 * ((d.doc_id - d.doc_id % 2) // 2 % 2 + 1) AS INT), 'x') "
    "AS px FROM documents d LEFT JOIN documents b "
    "ON b.doc_id = d.doc_id - d.doc_id % 2 "
    "WHERE d.doc_id < 1000), "
    "fr AS (SELECT media_id, h, px, unnest(range(0, nf)) AS f "
    "FROM base), "
    "cl AS (SELECT media_id, f, list_transform(range(0, 64), i -> "
    "(299 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 3 AS INT), 1)) "
    "+ 587 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 2 AS INT), 1)) "
    "+ 114 * ord(substr(px, CAST(f * 12 * h "
    "+ 3 * ((h - 1 - ((i // 8) * h // 8)) * 4 + ((i % 8) * 4 // 8)) "
    "+ 1 AS INT), 1))) // 1000) AS cells FROM fr), "
    "m AS (SELECT media_id, f, cells, list_sum(cells) // 64 AS mean "
    "FROM cl), "
    "hashes AS (SELECT media_id, f, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cells[CAST(i + 33 AS INT)] > mean "
    "THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cells[CAST(i + 1 AS INT)] > mean "
    "THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS lo FROM m), "
    "seq AS (SELECT media_id, f, hi, lo, "
    "lag(hi) OVER (PARTITION BY media_id ORDER BY f) AS phi, "
    "lag(lo) OVER (PARTITION BY media_id ORDER BY f) AS plo "
    "FROM hashes), "
    "sig AS (SELECT DISTINCT media_id, hi, lo FROM seq "
    "WHERE phi IS NULL "
    "OR bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) >= 12), "
    "ns AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n FROM sig "
    "GROUP BY media_id), "
    "hm AS (SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob, "
    "bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hd "
    "FROM sig a JOIN sig b ON a.media_id < b.media_id), "
    "ma AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) "
    "AS n_matched_a FROM (SELECT id_a, id_b, hia, loa, min(hd) AS mh "
    "FROM hm GROUP BY 1, 2, 3, 4) WHERE mh <= 3 GROUP BY 1, 2), "
    "mb AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) "
    "AS n_matched_b FROM (SELECT id_a, id_b, hib, lob, min(hd) AS mh "
    "FROM hm GROUP BY 1, 2, 3, 4) WHERE mh <= 3 GROUP BY 1, 2), "
    "pairs AS (SELECT DISTINCT id_a, id_b FROM hm), "
    "scored AS (SELECT p.id_a, p.id_b, na.n AS n_scenes_a, "
    "nb.n AS n_scenes_b, coalesce(ma.n_matched_a, 0) AS n_matched_a, "
    "coalesce(mb.n_matched_b, 0) AS n_matched_b "
    "FROM pairs p JOIN ns na ON na.media_id = p.id_a "
    "JOIN ns nb ON nb.media_id = p.id_b "
    "LEFT JOIN ma ON ma.id_a = p.id_a AND ma.id_b = p.id_b "
    "LEFT JOIN mb ON mb.id_a = p.id_a AND mb.id_b = p.id_b) "
    "SELECT *, CAST((2 * (n_matched_a + n_matched_b) * 1000000 "
    "+ (n_scenes_a + n_scenes_b)) // (2 * (n_scenes_a + n_scenes_b)) "
    "AS DOUBLE) / 1000000.0 AS coverage FROM scored "
    "WHERE (2 * (n_matched_a + n_matched_b) * 1000000 "
    "+ (n_scenes_a + n_scenes_b)) // (2 * (n_scenes_a + n_scenes_b)) "
    ">= 500000"
)




def q_multimodal_resize_hist(spark, sf_dir):
    """REAL image resize (pipeline/multimodal.py resize_images): decode
    the P6 pixels, nearest-neighbor resample to 4x2 (source index
    x*src_w // 4, y*src_h // 2 — pure integer arithmetic), re-encode as
    P6, then luma-histogram the RESIZED image. The oracle replays the
    sampling index math, byte lookups, luma, and binning in SQL — a
    value-check of the whole decode → resample → re-encode → feature
    chain."""
    from lotad_spark.pipeline.multimodal import (
        extract_feature_counts,
        resize_images,
    )

    resized = resize_images(_doc_ppm_media(spark, sf_dir), width=4, height=2)
    return extract_feature_counts(resized, kind="luma").select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


_BLOCKLIST_TERMS = ("casino", "dup", "slow", "spam")
# the same list as a DuckDB array literal, shared by the oracle
_BL_SQL = "[" + ", ".join(f"'{t}'" for t in _BLOCKLIST_TERMS) + "]"


def q_blocklist_filter(spark, sf_dir):
    """Blocklist screening (pipeline/text.py blocklist_filter — the
    C4-style banned-words gate): exact token matches against a small
    term list ('dup'/'slow' occur in the corpus, 'casino'/'spam' do
    not), emitting occurrence count, sorted distinct hit terms, and the
    blocked flag. Literal strategy: one scan, zero exchanges."""
    from lotad_spark.pipeline import blocklist_filter

    return blocklist_filter(
        _t(spark, sf_dir, "documents"), list(_BLOCKLIST_TERMS)
    )


# Deterministic URL synthesis over documents (the table carries no URL
# column): the SAME SQL expression builds the url on both engines —
# Spark runs it via selectExpr, the oracle inlines it (with the one
# dialect cast swapped) — so every adversarial axis (mixed-case scheme
# and host, userinfo, www, default/odd ports, trailing slash, tracking
# params, unsorted params, fragments, plus outright non-URLs) is
# byte-identical cross-engine BEFORE canonicalization touches it.
_URL_SYNTH_SQL = (
    "CASE WHEN doc_id % 97 = 0 THEN 'not a url' ELSE "
    "(CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' "
    "WHEN 2 THEN 'HTTPS' ELSE 'https' END) || '://' "
    "|| (CASE WHEN doc_id % 7 = 0 THEN 'u:p@' ELSE '' END) "
    "|| (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) "
    "|| (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) "
    "|| '.example.com' "
    "|| (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443' "
    "WHEN 2 THEN ':8080' ELSE '' END) "
    "|| '/p/' || CAST(doc_id % 25 AS STRING) "
    "|| (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) "
    "|| (CASE doc_id % 6 WHEN 0 THEN '?utm_source=a&z=9&a=1' "
    "WHEN 1 THEN '?a=1&z=9' WHEN 2 THEN '?z=9&a=1&gclid=x' "
    "WHEN 3 THEN '?ref=home' WHEN 4 THEN '' ELSE '?b=&a=2' END) "
    "|| (CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) END"
)


def _url_corpus(spark, sf_dir):
    return _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH_SQL} AS url"
    )


def _url_canon_ctes() -> str:
    """DuckDB CTE chain replaying pipeline/urls.py canonicalization
    byte for byte (the 7 documented steps), ending in
    ``canon(doc_id, url, canonical_url)``. The tracking list and every
    regex mirror the Spark expressions exactly."""
    from lotad_spark.pipeline.urls import TRACKING_PARAMS

    tracking = "[" + ", ".join(f"'{p}'" for p in TRACKING_PARAMS) + "]"
    synth = _URL_SYNTH_SQL.replace(" AS STRING)", " AS VARCHAR)")
    return (
        f"corpus AS (SELECT doc_id, {synth} AS url FROM documents), "
        "p1 AS (SELECT doc_id, url, "
        "lower(regexp_extract(trim(url), "
        "'^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme, "
        "regexp_replace(trim(url), "
        "'^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest FROM corpus), "
        "p2 AS (SELECT *, "
        "regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1), "
        "'^[^@]*@', '') AS hostport, "
        "regexp_replace(regexp_extract(rest, '^[^/?#]*([^#]*)', 1), "
        "'#.*$', '') AS tail FROM p1), "
        "p3 AS (SELECT *, "
        "regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', "
        "'')), '^www\\.', '') AS host, "
        "regexp_extract(hostport, ':([0-9]+)$', 1) AS port, "
        "regexp_extract(tail, '^([^?]*)', 1) AS raw_path, "
        "CASE WHEN contains(tail, '?') THEN "
        "regexp_replace(tail, '^[^?]*\\?', '') ELSE '' END AS raw_query "
        "FROM p2), "
        "p4 AS (SELECT *, "
        "CASE WHEN raw_path = '' THEN '/' WHEN raw_path <> '/' THEN "
        "regexp_replace(raw_path, '/$', '') ELSE raw_path END AS path, "
        "CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR "
        "(scheme = 'https' AND port = '443') THEN '' "
        "ELSE ':' || port END AS portsfx, "
        # coalesce: DuckDB's array_to_string over an EMPTY filtered
        # list yields NULL, which would NULL the whole concatenation
        "coalesce(array_to_string(list_sort(list_filter("
        "string_split(raw_query, '&'), t -> t <> '' "
        "AND NOT starts_with(lower(regexp_extract(t, '^([^=]*)', 1)), "
        "'utm_') "
        f"AND NOT list_contains({tracking}, "
        "lower(regexp_extract(t, '^([^=]*)', 1))))), '&'), '') AS canq "
        "FROM p3), "
        "canon AS (SELECT doc_id, url, "
        "CASE WHEN scheme = '' OR host = '' THEN NULL ELSE "
        "scheme || '://' || host || portsfx || path || "
        "CASE WHEN canq = '' THEN '' ELSE '?' || canq END END "
        "AS canonical_url FROM p4)"
    )


_URL_DOMAIN_CTE = (
    "dom AS (SELECT doc_id, canonical_url, "
    "regexp_extract(canonical_url, "
    "'^[a-z][a-z0-9+.\\-]*://([^/:?]*)', 1) AS domain FROM canon)"
)


def q_url_dedup(spark, sf_dir):
    """Exact URL dedup after canonicalization (pipeline/urls.py
    url_dedup): min-id keep-rule per canonical URL; unparseable URLs
    (NULL canonical) each keep themselves. The oracle replays the full
    7-step canonicalization regex pipeline AND the windowed keep rule —
    every canonical byte is value-checked."""
    from lotad_spark.pipeline import url_dedup

    return url_dedup(_url_corpus(spark, sf_dir))


def _url_dedup_sql() -> str:
    return (
        f"WITH {_url_canon_ctes()} "
        "SELECT doc_id, canonical_url, "
        "CASE WHEN canonical_url IS NULL THEN doc_id ELSE "
        "min(doc_id) OVER (PARTITION BY canonical_url) END AS keep_id, "
        "CASE WHEN canonical_url IS NULL THEN false ELSE "
        "doc_id <> min(doc_id) OVER (PARTITION BY canonical_url) END "
        "AS is_dup FROM canon"
    )


def q_url_dedup_incremental(spark, sf_dir):
    """Incremental URL dedup against a stored index (pipeline/urls.py
    write_url_index + url_dedup_against_index — the daily crawl
    shape): index the canonical URLs of docs with doc_id < 250, then
    flag the FULL synthesized corpus against it and within itself. The
    oracle replays both faces in SQL: membership against the subset's
    distinct canonicals (index wins) and the min-id window within the
    batch."""
    from lotad_spark.pipeline.urls import (
        url_dedup_against_index,
        write_url_index,
    )

    corpus = _url_corpus(spark, sf_dir)
    root = _scratch("lotad_urlidx_")
    write_url_index(corpus.filter(F.col("doc_id") < 250), root)
    return url_dedup_against_index(spark, root, corpus)


def _url_dedup_incremental_sql() -> str:
    return (
        f"WITH {_url_canon_ctes()}, "
        "idx AS (SELECT DISTINCT canonical_url FROM canon "
        "WHERE doc_id < 250 AND canonical_url IS NOT NULL), "
        "j AS (SELECT c.doc_id, c.canonical_url, "
        "(i.canonical_url IS NOT NULL) AS in_idx, "
        "CASE WHEN c.canonical_url IS NULL THEN c.doc_id ELSE "
        "min(c.doc_id) OVER (PARTITION BY c.canonical_url) END AS keep "
        "FROM canon c LEFT JOIN idx i USING (canonical_url)) "
        "SELECT doc_id, canonical_url, "
        "CASE WHEN in_idx THEN 'index' "
        "WHEN doc_id <> keep THEN 'batch' END IS NOT NULL AS is_dup, "
        "CASE WHEN in_idx THEN 'index' "
        "WHEN doc_id <> keep THEN 'batch' END AS dup_source FROM j"
    )


def q_domain_stats(spark, sf_dir):
    """Per-domain aggregation (pipeline/urls.py domain_stats): host +
    apex heuristic, doc count, distinct canonical URLs; unparseable
    rows aggregate under domain NULL so gate coverage is auditable."""
    from lotad_spark.pipeline import domain_stats

    return domain_stats(_url_corpus(spark, sf_dir))


def _domain_stats_sql() -> str:
    return (
        f"WITH {_url_canon_ctes()}, {_URL_DOMAIN_CTE} "
        "SELECT domain, "
        "CASE WHEN regexp_matches(domain, '[^.]+\\.[^.]+$') THEN "
        "regexp_extract(domain, '([^.]+\\.[^.]+)$', 1) "
        "ELSE domain END AS apex_domain, "
        "count(*) AS n_docs, "
        "count(DISTINCT canonical_url) AS n_urls "
        "FROM dom GROUP BY domain"
    )


def q_domain_cap(spark, sf_dir):
    """Deterministic per-domain cap (pipeline/urls.py domain_cap, the
    RefinedWeb anti-monoculture gate): rank by id within domain, flag
    rank > 20; NULL domains never capped."""
    from lotad_spark.pipeline import domain_cap

    return domain_cap(_url_corpus(spark, sf_dir), 20)


def _domain_cap_sql() -> str:
    return (
        f"WITH {_url_canon_ctes()}, {_URL_DOMAIN_CTE} "
        "SELECT doc_id, domain, "
        "CAST(CASE WHEN domain IS NULL THEN 1 ELSE "
        "row_number() OVER (PARTITION BY domain ORDER BY doc_id ASC) "
        "END AS BIGINT) AS domain_rank, "
        "CASE WHEN domain IS NULL THEN false ELSE "
        "row_number() OVER (PARTITION BY domain ORDER BY doc_id ASC) "
        "> 20 END AS capped FROM dom"
    )


# src1.example.com is a prefix of src11/src12/... hosts — pinning that
# suffix-at-label matching never substring-matches; absent.io pins the
# no-match path.
_URL_BLOCK_DOMAINS = ("src1.example.com", "src7.example.com", "absent.io")


def q_domain_blocklist(spark, sf_dir):
    """Domain-axis blocklist (pipeline/urls.py domain_blocklist_filter):
    exact-or-subdomain matching against a literal list, zero exchanges;
    src1.example.com must NOT catch src11.example.com (substring
    hazard pinned)."""
    from lotad_spark.pipeline import domain_blocklist_filter

    return domain_blocklist_filter(
        _url_corpus(spark, sf_dir), list(_URL_BLOCK_DOMAINS)
    )


def _domain_blocklist_sql() -> str:
    dl = "[" + ", ".join(f"'{d}'" for d in sorted(_URL_BLOCK_DOMAINS)) + "]"
    return (
        f"WITH {_url_canon_ctes()}, {_URL_DOMAIN_CTE}, "
        "hits AS (SELECT doc_id, domain, "
        "CASE WHEN domain IS NULL THEN [] ELSE "
        f"list_sort(list_filter({dl}, d -> domain = d OR "
        "suffix(domain, '.' || d))) END AS h FROM dom) "
        "SELECT doc_id, domain, "
        "CASE WHEN len(h) > 0 THEN h[1] END AS blocked_by, "
        "len(h) > 0 AS blocked FROM hits"
    )


# A tiny PSL snapshot in the published format (publicsuffix.org/list):
# plain, multi-label, wildcard, and exception rules — one of each shape
# so every branch of the matcher is value-checked.
_PSL_RULES_LINES = (
    "com", "org", "uk", "co.uk", "au", "com.au", "ck", "*.ck", "!www.ck",
)
# Deterministic host synthesis over documents: multi-label suffixes
# (co.uk/com.au), a wildcard zone (*.ck), the exception (www.ck), a
# public-suffix-only host (apex must be NULL), an unlisted TLD (default
# 1-label rule), a single label (no registrable domain), and NULLs.
_PSL_HOST_SQL = (
    "CASE WHEN doc_id % 19 = 0 THEN NULL ELSE "
    "(CASE WHEN doc_id % 3 = 0 THEN 'd' || CAST(doc_id % 23 AS STRING) "
    "|| '.' ELSE '' END) || "
    "(CASE doc_id % 10 WHEN 0 THEN 'example.co.uk' "
    "WHEN 1 THEN 'shop.example.co.uk' WHEN 2 THEN 'example.com.au' "
    "WHEN 3 THEN 'src.ck' WHEN 4 THEN 'b.src.ck' WHEN 5 THEN 'x.www.ck' "
    "WHEN 6 THEN 'example.com' WHEN 7 THEN 'foo.unlisted' "
    "WHEN 8 THEN 'co.uk' ELSE 'localhost' END) END"
)


def q_domain_apex_psl(spark, sf_dir):
    """True eTLD+1 under a public-suffix list (pipeline/urls.py
    apex_psl_frame, the apex='psl' mode of domain_stats): candidate
    suffixes explode per host (bounded by RULE depth, 2 here), a
    broadcast join against the rule relation finds matches, and the
    published winner rule applies — exception beats longest beats the
    default 1-label rule; public-suffix hosts and single labels get
    NULL apex, never a guess. The oracle replays candidate generation
    (exact + one-label wildcard forms), the rule join, and the winner
    arithmetic in SQL over the same host synthesis; the matcher is
    additionally parity-tested against the driver-side psl_apex
    reference on a randomized corpus in tests/test_urls.py."""
    from lotad_spark.pipeline.urls import apex_psl_frame, load_psl

    hosts = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PSL_HOST_SQL} AS domain"
    )
    return apex_psl_frame(hosts, load_psl(_PSL_RULES_LINES)).select(
        "doc_id", "domain", "apex_domain"
    )


def _domain_apex_psl_sql() -> str:
    host = _PSL_HOST_SQL.replace(" AS STRING)", " AS VARCHAR)")
    vals = ", ".join(
        f"('{p[1:]}', {p.count('.') + 1}, true)"
        if p.startswith("!")
        else f"('{p}', {p.count('.') + 1}, false)"
        for p in _PSL_RULES_LINES
    )
    return (
        f"WITH hosts AS (SELECT doc_id, {host} AS domain FROM documents), "
        f"rules(pattern, rule_labels, is_exception) AS (VALUES {vals}), "
        "dist AS (SELECT DISTINCT domain, "
        "len(string_split(domain, '.')) AS n FROM hosts "
        "WHERE domain IS NOT NULL), "
        "ks AS (SELECT domain, n, unnest(range(1, least(n, 2) + 1)) AS k "
        "FROM dist), "
        "cand AS (SELECT domain, array_to_string(list_slice("
        "string_split(domain, '.'), n - k + 1, n), '.') AS pattern FROM ks "
        "UNION ALL SELECT domain, '*.' || array_to_string(list_slice("
        "string_split(domain, '.'), n - k + 2, n), '.') FROM ks WHERE k > 1), "
        "won AS (SELECT c.domain, CASE WHEN "
        "max(CASE WHEN r.is_exception THEN r.rule_labels END) IS NOT NULL "
        "THEN max(CASE WHEN r.is_exception THEN r.rule_labels END) - 1 "
        "ELSE coalesce(max(CASE WHEN NOT r.is_exception "
        "THEN r.rule_labels END), 1) END AS slen "
        "FROM cand c JOIN rules r USING (pattern) GROUP BY c.domain) "
        "SELECT h.doc_id, h.domain, "
        "CASE WHEN h.domain IS NOT NULL "
        "AND len(string_split(h.domain, '.')) > coalesce(w.slen, 1) THEN "
        "array_to_string(list_slice(string_split(h.domain, '.'), "
        "len(string_split(h.domain, '.')) - coalesce(w.slen, 1), "
        "len(string_split(h.domain, '.'))), '.') END AS apex_domain "
        "FROM hosts h LEFT JOIN won w ON h.domain = w.domain"
    )


def _doc_gif_media(spark, sf_dir):
    """Each doc as a VALID GIF89a whose palette-index pixels are the
    doc's text bytes (rpad/truncated to w*h — the P6/PNG/JPEG rows'
    pixel source), 256-entry grayscale global table (index i →
    (i,i,i), so luma of a pixel is exactly its byte), compressed by a
    REAL greedy longest-match LZW (variable 3→12-bit codes, decoder
    width schedule tracked for the packing) and stored INTERLACED for
    every odd doc — so decoding must run the full LZW inflate AND the
    4-pass row reorder to put pixels back in place. The downstream
    resize is position-sensitive, so a wrong deinterlace or a wrong
    LZW entry changes sampled bytes and hash-mismatches the oracle
    (which derives expectations from the same text bytes,
    engine-independently)."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct

        import numpy as np

        def pack_codes(codes):
            out = bytearray()
            acc = nbits = 0
            width, nxt, first = 9, 258, True
            for c in codes:
                acc |= c << nbits
                nbits += width
                while nbits >= 8:
                    out.append(acc & 0xFF)
                    acc >>= 8
                    nbits -= 8
                if c == 256:
                    width, nxt, first = 9, 258, True
                elif c == 257:
                    pass
                elif first:
                    first = False
                elif nxt < 4096:
                    nxt += 1
                    if nxt == (1 << width) and width < 12:
                        width += 1
            if nbits:
                out.append(acc & 0xFF)
            return bytes(out)

        def lzw(data):
            d = {bytes([i]): i for i in range(256)}
            nxt = 258
            codes = [256]
            w = b""
            for b in data:
                wc = w + bytes([b])
                if wc in d:
                    w = wc
                else:
                    codes.append(d[w])
                    if nxt < 4096:
                        d[wc] = nxt
                        nxt += 1
                    else:
                        codes.append(256)
                        d = {bytes([i]): i for i in range(256)}
                        nxt = 258
                    w = bytes([b])
            if w:
                codes.append(d[w])
            codes.append(257)
            return pack_codes(codes)

        pal = bytes(v for i in range(256) for v in (i, i, i))
        passes = ((0, 8), (4, 8), (2, 4), (1, 2))
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h = did % 5 + 2, did % 3 + 1
                raw = (text or "").encode("utf-8")[: w * h].ljust(
                    w * h, b"x"
                )
                pix = np.frombuffer(raw, np.uint8).reshape(h, w)
                inter = did % 2 == 1
                if inter:
                    order = [
                        y for s, st in passes for y in range(s, h, st)
                    ]
                    pix = pix[order]
                stream = lzw(bytes(pix.reshape(-1)))
                body = bytearray([8])
                for i in range(0, len(stream), 255):
                    ch = stream[i : i + 255]
                    body.append(len(ch))
                    body += ch
                body.append(0)
                payloads.append(
                    b"GIF89a"
                    + struct.pack("<HH", w, h)
                    + bytes([0xF7, 0, 0])
                    + pal
                    + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
                    + b"\x2c"
                    + struct.pack("<HHHH", 0, 0, w, h)
                    + bytes([0x40 if inter else 0])
                    + bytes(body)
                    + b"\x3b"
                )
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_gif_resize_hist(spark, sf_dir):
    """The GIF face of the real-pixel tier (pipeline/multimodal.py
    _gif_pixels): full LZW inflate (variable-width codes, table
    growth, KwKwK) + 4-pass deinterlace + grayscale palette lookup,
    then the position-sensitive nearest-neighbor resize to 4x2 and the
    16-bin integer luma histogram. Gray index g has luma exactly g, so
    the oracle replays the resample index arithmetic
    (x*src_w//4, y*src_h//2) straight off the text bytes — any decode,
    deinterlace, or resample defect moves a sampled byte and
    hash-mismatches; resize_kind='pixel' is implied by values (a
    bytes-fallback row histograms different bytes). Decoder internals
    pinned independently in tests/test_gif.py (hand-built KwKwK code
    sequence, compressor fuzz incl. the 4096 reset, positional
    interlace fixtures)."""
    from lotad_spark.pipeline.multimodal import (
        extract_feature_counts,
        resize_images,
    )

    resized = resize_images(
        _doc_gif_media(spark, sf_dir), width=4, height=2
    )
    return extract_feature_counts(resized, kind="luma").select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


_GIF_RESIZE_HIST_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 5 + 2 AS INT) AS w, "
    "CAST(doc_id % 3 + 1 AS INT) AS h, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) AS INT), 'x') AS px "
    "FROM documents), "
    "sam AS (SELECT media_id, list_transform(range(0, 8), i -> "
    "ord(substr(px, ((i // 4) * h // 2) * w + ((i % 4) * w // 4) + 1, "
    "1))) AS grays FROM base) "
    "SELECT media_id, 'luma' AS kind, "
    "array_to_string(list_transform(range(0, 16), b -> "
    "CAST(len(list_filter(grays, g -> g * 16 // 256 = b)) "
    "AS VARCHAR)), ',') AS hist FROM sam"
)


def q_pack_plan(spark, sf_dir):
    """No-split sequence packing (pipeline/sampling.py pack_plan, the
    instruction-tuning sibling of token_chunk_plan): whole documents
    into 80-token blocks, 16 md5 buckets packed independently by
    next-fit-decreasing — the strongest packing rule that is a pure
    sequential scan, so the oracle replays it EXACTLY with a recursive
    CTE walking each bucket in (n_tokens DESC, doc_id ASC) order.
    Documents longer than a block surface as overflow=TRUE with NULL
    pack_id (never silently truncated); ~20% of the corpus at this
    block size, so the arm is value-checked, not theoretical. Only
    (id, n_tokens, bucket) ever shuffles — never text."""
    from lotad_spark.pipeline import pack_plan

    return pack_plan(
        _t(spark, sf_dir, "documents"), 80, n_buckets=16
    )


_PACK_PLAN_SQL = (
    "WITH RECURSIVE d AS (SELECT doc_id, CAST(len(list_filter("
    "string_split_regex(trim(coalesce(text, '')), '\\s+'), "
    "x -> x <> '')) AS BIGINT) AS n_tokens FROM documents), "
    "b AS (SELECT doc_id, n_tokens, "
    "substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket "
    "FROM d WHERE n_tokens > 0), "
    "fit AS (SELECT *, row_number() OVER (PARTITION BY bucket "
    "ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM b "
    "WHERE n_tokens <= 80), "
    "s AS (SELECT bucket, rn, doc_id, n_tokens, "
    "CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill "
    "FROM fit WHERE rn = 1 "
    "UNION ALL "
    "SELECT f.bucket, f.rn, f.doc_id, f.n_tokens, "
    "CASE WHEN s.fill + f.n_tokens <= 80 THEN s.bin_idx "
    "ELSE s.bin_idx + 1 END, "
    "CASE WHEN s.fill + f.n_tokens <= 80 THEN s.fill + f.n_tokens "
    "ELSE f.n_tokens END "
    "FROM s JOIN fit f ON f.bucket = s.bucket AND f.rn = s.rn + 1) "
    "SELECT doc_id, n_tokens, "
    "bucket || '-' || CAST(bin_idx AS VARCHAR) AS pack_id, "
    "FALSE AS overflow FROM s "
    "UNION ALL SELECT doc_id, n_tokens, CAST(NULL AS VARCHAR), TRUE "
    "FROM b WHERE n_tokens > 80"
)


# Edit-join corpus: distinct ASCII strings ('d<id>-<8 md5 hex>') plus
# two mutation arms (one deletion, one substitution — true ED-1 pairs).
# The oracle runs this SQL; the Spark arm mirrors it expression-for-
# expression in q_edit_distance_pairs (same base/substr arithmetic), so
# any drift hash-mismatches immediately. ASCII ONLY: Spark's
# levenshtein is codepoint-based, DuckDB's byte-based; they agree
# exactly on ASCII (the cross-engine hazard is documented on the
# operator and pinned by the unicode-aware pytest reference).
_EDIT_CORPUS_SQL = (
    "SELECT doc_id, 'd' || CAST(doc_id AS {S}) || '-' || "
    "substr(md5(CAST(doc_id AS {S})), 1, 8) AS text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 100000, substr('d' || CAST(doc_id AS {S}) || '-' || "
    "substr(md5(CAST(doc_id AS {S})), 1, 8), 1, 4) || "
    "substr('d' || CAST(doc_id AS {S}) || '-' || "
    "substr(md5(CAST(doc_id AS {S})), 1, 8), 6) AS text "
    "FROM documents WHERE doc_id % 10 = 0 "
    "UNION ALL "
    "SELECT doc_id + 200000, substr('d' || CAST(doc_id AS {S}) || '-' || "
    "substr(md5(CAST(doc_id AS {S})), 1, 8), 1, 3) || 'z' || "
    "substr('d' || CAST(doc_id AS {S}) || '-' || "
    "substr(md5(CAST(doc_id AS {S})), 1, 8), 5) AS text "
    "FROM documents WHERE doc_id % 15 = 0"
)


def q_edit_distance_pairs(spark, sf_dir):
    """Edit-distance similarity join (pipeline/dedup.py
    edit_distance_pairs; PassJoin, Li/Deng/Feng VLDB 2011): all pairs
    within Levenshtein <= 2 over a synthesized ASCII corpus (distinct
    md5-suffixed strings + deletion/substitution mutation arms, so true
    ED-1 pairs exist by construction). Candidates come from the k+1
    even-split segment equi-join with shift/length residuals — never
    all-pairs; JVM levenshtein verifies. The oracle IS the brute-force
    all-pairs (length-windowed) — the strongest possible check that
    the filter loses nothing; exact-match parity vs an independent DP
    reference is additionally pinned in tests/test_dedup.py."""
    from lotad_spark.pipeline.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    base = (
        "'d' || CAST(doc_id AS STRING) || '-' || "
        "substr(md5(CAST(doc_id AS STRING)), 1, 8)"
    )
    corpus = (
        docs.selectExpr("doc_id", f"{base} AS text")
        .unionByName(
            docs.filter("doc_id % 10 = 0").selectExpr(
                "doc_id + 100000 AS doc_id",
                f"substr({base}, 1, 4) || substr({base}, 6) AS text",
            )
        )
        .unionByName(
            docs.filter("doc_id % 15 = 0").selectExpr(
                "doc_id + 200000 AS doc_id",
                f"substr({base}, 1, 3) || 'z' || substr({base}, 5) AS text",
            )
        )
    )
    return edit_distance_pairs(corpus, k=2)


def _edit_pairs_sql() -> str:
    corpus = _EDIT_CORPUS_SQL.format(S="VARCHAR")
    return (
        f"WITH c AS ({corpus}) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(levenshtein(a.text, b.text) AS INT) AS distance "
        "FROM c a JOIN c b ON a.doc_id < b.doc_id "
        "AND abs(len(a.text) - len(b.text)) <= 2 "
        "WHERE levenshtein(a.text, b.text) <= 2"
    )


def q_edit_distance_topk(spark, sf_dir):
    """The search face of the edit join (pipeline/dedup.py
    edit_distance_search): per-query top-3 corpus strings within
    Levenshtein <= 2, rank ties broken by id. Queries are 1-edit
    mutations of every 100th corpus string, so every query has a
    guaranteed distance-1 hit and the ranking window is exercised on
    real near-ties. The corpus is SEGMENTED (a projection) and the
    query substrings BROADCAST — the corpus never shuffles (plan-pinned
    in tests/test_dedup.py). The oracle is the brute-force per-query
    scan with the identical (distance, id) rank."""
    from lotad_spark.pipeline.dedup import edit_distance_search

    docs = _t(spark, sf_dir, "documents")
    base = (
        "'d' || CAST(doc_id AS STRING) || '-' || "
        "substr(md5(CAST(doc_id AS STRING)), 1, 8)"
    )
    corpus = docs.selectExpr("doc_id", f"{base} AS text")
    queries = docs.filter("doc_id % 100 = 0").selectExpr(
        "doc_id AS query_id",
        f"substr({base}, 1, 4) || substr({base}, 6) AS text",
    )
    return edit_distance_search(corpus, queries, k_max=2, topn=3)


def _edit_topk_sql() -> str:
    base = (
        "'d' || CAST(doc_id AS VARCHAR) || '-' || "
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    )
    return (
        f"WITH c AS (SELECT doc_id, {base} AS s FROM documents), "
        f"q AS (SELECT doc_id AS query_id, substr({base}, 1, 4) || "
        f"substr({base}, 6) AS t FROM documents WHERE doc_id % 100 = 0), "
        "m AS (SELECT q.query_id, c.doc_id, "
        "CAST(levenshtein(c.s, q.t) AS INT) AS distance "
        "FROM q, c WHERE levenshtein(c.s, q.t) <= 2), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY distance ASC, doc_id ASC) AS rk FROM m) "
        "SELECT query_id, doc_id, distance, CAST(rk AS INT) AS rank "
        "FROM r WHERE rk <= 3"
    )


def _doc_tiff_media(spark, sf_dir):
    """Each doc as a VALID baseline TIFF whose 8-bit grayscale pixels
    are the doc's text bytes (rpad/truncated to w*h — the shared pixel
    source): byte order cycles II/MM by doc parity, strip layout
    cycles INDEPENDENTLY by (doc_id // 2) parity between 1-row strips
    (multi-strip reassembly, exercised by every multi-row doc in that
    class) and one strip holding all rows — the full 2x2 byte-order x
    strip-layout cross lands in the oracle corpus — and
    every fifth doc stores WhiteIsZero (payload bytes inverted, so the
    decoder's spec-mandated re-inversion must restore the text bytes).
    Decoding must walk the IFD in the right byte order, honor strip
    offsets/counts, and apply the photometric — any defect changes
    pixel values and hash-mismatches the oracle."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct

        import numpy as np

        def encode(arr, big_endian, rps, white_is_zero):
            bo = ">" if big_endian else "<"
            h, w = arr.shape
            photo = 0 if white_is_zero else 1
            data = (
                (255 - arr.astype(np.int16)).astype(np.uint8)
                if white_is_zero
                else arr
            )
            strips = [
                bytes(data[y0 : y0 + rps].reshape(-1))
                for y0 in range(0, h, rps)
            ]
            entries = [
                (256, 4, 1, [w]),
                (257, 4, 1, [h]),
                (258, 3, 1, [8]),
                (259, 3, 1, [1]),
                (262, 3, 1, [photo]),
                (273, 4, len(strips), None),
                (277, 3, 1, [1]),
                (278, 4, 1, [rps]),
                (279, 4, len(strips), [len(s) for s in strips]),
            ]
            fmts = {3: "H", 4: "I"}
            sizes = {3: 2, 4: 4}
            extra_off = 8 + 2 + len(entries) * 12 + 4
            extra_len = sum(
                sizes[t] * c
                for _tag, t, c, _v in entries
                if sizes[t] * c > 4
            )
            pos = extra_off + extra_len
            offs = []
            for s in strips:
                offs.append(pos)
                pos += len(s)
            extra = bytearray()
            body = b""
            for tag, typ, cnt, vals in entries:
                if vals is None:
                    vals = offs
                e = struct.pack(bo + "HHI", tag, typ, cnt)
                if sizes[typ] * cnt > 4:
                    e += struct.pack(bo + "I", extra_off + len(extra))
                    extra += struct.pack(bo + fmts[typ] * cnt, *vals)
                else:
                    packed = struct.pack(bo + fmts[typ] * cnt, *vals)
                    e += packed + b"\x00" * (4 - len(packed))
                body += e
            return (
                (b"MM" if big_endian else b"II")
                + struct.pack(bo + "HI", 42, 8)
                + struct.pack(bo + "H", len(entries))
                + body
                + struct.pack(bo + "I", 0)
                + bytes(extra)
                + b"".join(strips)
            )

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h = did % 5 + 2, did % 3 + 1
                raw = (text or "").encode("utf-8")[: w * h].ljust(
                    w * h, b"x"
                )
                pix = np.frombuffer(raw, np.uint8).reshape(h, w)
                payloads.append(
                    encode(
                        pix,
                        big_endian=did % 2 == 1,
                        # (did // 2) parity decorrelates the strip
                        # layout from the byte-order cycle, so the
                        # oracle covers the full 2x2 cross: II/MM x
                        # {1-row strips, one multi-row strip}. The r13
                        # condition (did % 3 == 0 and h > 1) was dead —
                        # h = did % 3 + 1 makes the two sides mutually
                        # exclusive — so no oracle doc was multi-strip.
                        rps=1 if (did // 2) % 2 == 0 else h,
                        white_is_zero=did % 5 == 0,
                    )
                )
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_tiff_luma_hist(spark, sf_dir):
    """The TIFF face of the real-pixel tier (pipeline/multimodal.py
    _tiff_pixels): IFD walk in BOTH byte orders (cycling by doc),
    multi-strip reassembly, and the WhiteIsZero inversion, feeding the
    16-bin integer luma histogram. Gray pixel g has luma exactly g and
    the WhiteIsZero docs store 255-g on disk, so the oracle derives
    expectations straight from the text bytes — a wrong byte order,
    strip order, or photometric changes counted values and
    hash-mismatches. Encoder-independent pytest fixtures in
    tests/test_tiff.py pin the decoder branch-by-branch."""
    from lotad_spark.pipeline.multimodal import extract_feature_counts

    return extract_feature_counts(
        _doc_tiff_media(spark, sf_dir), kind="luma"
    ).select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


_TIFF_LUMA_HIST_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) AS INT), 'x') AS px, "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) AS INT) AS nb "
    "FROM documents), "
    "g AS (SELECT media_id, list_transform(range(0, nb), "
    "i -> ord(substr(px, i + 1, 1))) AS grays FROM base) "
    "SELECT media_id, 'luma' AS kind, "
    "array_to_string(list_transform(range(0, 16), b -> "
    "CAST(len(list_filter(grays, v -> v * 16 // 256 = b)) "
    "AS VARCHAR)), ',') AS hist FROM g"
)


# --- WebP / VP8L fixture encoder --------------------------------------
# A minimal-but-real VP8L (lossless WebP) writer, independent of the
# decoder in lotad_spark/pipeline/multimodal.py — the round trip
# (encode variant -> _webp_pixels -> pixel values) is what the oracle
# row verifies, so the two sides are deliberately separate
# implementations of the public spec (RFC 9649). Five encoding classes
# cycle by doc_id so the oracle corpus covers: plain literals with
# normal (code-length-coded) prefix codes and optionally meta prefix
# codes (an entropy image with two code groups), the subtract-green
# transform with LZ77 backrefs (both mapped short-distance and plain
# 120+dist codes), the color cache, the predictor transform (tile
# modes cycling through all 14), and color indexing with sub-byte
# pixel bundling.

_WP_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
)


class _WpBitWriter:
    """LSB-first bit accumulator (the VP8L stream convention)."""

    def __init__(self):
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        self.acc |= (val & ((1 << nbits) - 1)) << self.n
        self.n += nbits

    def put_code(self, code: int, nbits: int) -> None:
        # prefix-code words are walked MSB-of-code-first by the reader
        for i in range(nbits - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def tobytes(self) -> bytes:
        return self.acc.to_bytes((self.n + 7) // 8, "little")


def _wp_huff_lengths(freqs: dict) -> dict:
    """Huffman code lengths (deterministic tie-breaks by insertion
    serial over symbol-sorted leaves). Callers guarantee >= 3 symbols;
    fixture alphabets are small enough that depth stays far below the
    15-bit spec cap (asserted)."""
    import heapq

    items = sorted(freqs.items())
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(items)]
    heapq.heapify(heap)
    serial = len(heap)
    depth = {s: 0 for s, _f in items}
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, serial, g1 + g2))
        serial += 1
    assert max(depth.values()) <= 15, "fixture alphabet too skewed"
    return depth


def _wp_canonical(lengths: dict) -> dict:
    """symbol -> (nbits, code), deflate canonical numbering — must
    match the decoder's (and every other engine's) assignment rule."""
    items = sorted((l, s) for s, l in lengths.items() if l > 0)
    out = {}
    code = 0
    prev = items[0][0]
    for ln, sym in items:
        code <<= ln - prev
        prev = ln
        out[sym] = (ln, code)
        code += 1
    return out


def _wp_write_prefix_code(bw: _WpBitWriter, freqs: dict, alphabet: int) -> dict:
    """Emit one prefix-code header for the given symbol frequencies and
    return the symbol -> (nbits, code) encoder map (0-bit for the
    single-symbol form)."""
    syms = sorted(freqs)
    # the simple form's symbol fields are <= 8 bits wide: symbols
    # >= 256 (LZ77 length / cache-hit greens) must take the normal form
    if len(syms) == 1 and syms[0] <= 255:
        s = syms[0]
        bw.put(1, 1)  # simple
        bw.put(0, 1)  # one symbol
        if s < 2:
            bw.put(0, 1)
            bw.put(s, 1)
        else:
            bw.put(1, 1)
            bw.put(s, 8)
        return {s: (0, 0)}
    if len(syms) == 2 and syms[1] <= 255:
        s0, s1 = syms
        bw.put(1, 1)  # simple
        bw.put(1, 1)  # two symbols
        bw.put(1, 1)  # first symbol in the 8-bit form
        bw.put(s0, 8)
        bw.put(s1, 8)
        # canonical over equal lengths: smaller symbol takes code 0
        return {s0: (1, 0), s1: (1, 1)}
    if len(syms) == 1:
        # one >255 symbol: a single length-1 entry — the decoder's
        # single-nonzero rule reads it as a 0-bit constant code
        lengths = {syms[0]: 1}
        enc = {syms[0]: (0, 0)}
    elif len(syms) == 2:
        lengths = {syms[0]: 1, syms[1]: 1}
        enc = _wp_canonical(lengths)
    else:
        lengths = _wp_huff_lengths(freqs)
        enc = _wp_canonical(lengths)
    # code-length ops over symbols 0..max_used (rest implied zero by
    # the max_symbol read bound)
    max_used = max(syms)
    ops = []  # (cl_symbol, extra_val, extra_nbits)
    i = 0
    while i <= max_used:
        ln = lengths.get(i, 0)
        if ln == 0:
            run = 0
            j = i
            while j <= max_used and lengths.get(j, 0) == 0:
                run += 1
                j += 1
            while run >= 11:
                r = min(run, 138)
                ops.append((18, r - 11, 7))
                run -= r
            if run >= 3:
                ops.append((17, run - 3, 3))
            else:
                ops.extend((0, 0, 0) for _ in range(run))
            i = j
        else:
            ops.append((ln, 0, 0))
            i += 1
    bw.put(0, 1)  # normal (code-length-coded) form
    bw.put(15, 4)  # num_code_lengths = 4 + 15 = 19: all, in order
    used_cl = sorted({op[0] for op in ops})
    if len(used_cl) == 1:
        # single-nonzero code-length code = 0-bit reads on the decoder
        cl_lengths = {used_cl[0]: 1}
        cl_enc = {used_cl[0]: (0, 0)}
    else:
        # uniform lengths: deterministic and always Kraft-feasible
        bits = max(1, (len(used_cl) - 1).bit_length())
        cl_lengths = {s: bits for s in used_cl}
        cl_enc = _wp_canonical(cl_lengths)
    for s in _WP_CL_ORDER:
        bw.put(cl_lengths.get(s, 0), 3)
    # bound the number of length reads: max_reads = 2 + an
    # even-width field (2..16 bits) — size the field to the op count
    assert 2 <= len(ops) <= 2 + 0xFFFF
    nbits = max(2, (max(len(ops) - 2, 1).bit_length() + 1) // 2 * 2)
    bw.put(1, 1)
    bw.put((nbits - 2) // 2, 3)
    bw.put(len(ops) - 2, nbits)
    for cl_sym, ev, eb in ops:
        n, c = cl_enc[cl_sym]
        if n:
            bw.put_code(c, n)
        if eb:
            bw.put(ev, eb)
    return enc


def _wp_lz77_sym(value: int):
    """LZ77 value -> (prefix_symbol, extra_val, extra_nbits)."""
    if value <= 4:
        return (value - 1, 0, 0)
    code = 4
    while True:
        extra = (code - 2) >> 1
        base = (2 + (code & 1)) << extra
        if base + 1 <= value <= base + (1 << extra):
            return (code, value - base - 1, extra)
        code += 1


def _wp_emit_literal(bw, enc5, p):
    g, r, b, a = (p >> 8) & 255, (p >> 16) & 255, p & 255, (p >> 24) & 255
    for enc, sym in zip(enc5, (g, r, b, a)):
        n, c = enc[sym]
        if n:
            bw.put_code(c, n)


def _wp_write_plain_image(bw: _WpBitWriter, pixels: list) -> None:
    """A sub-image (transform data / palette / entropy image): no
    cache, one code group, every pixel a literal."""
    bw.put(0, 1)  # no color cache
    freq_g, freq_r, freq_b, freq_a = {}, {}, {}, {}
    for p in pixels:
        for d, v in (
            (freq_g, (p >> 8) & 255),
            (freq_r, (p >> 16) & 255),
            (freq_b, p & 255),
            (freq_a, (p >> 24) & 255),
        ):
            d[v] = d.get(v, 0) + 1
    enc_g = _wp_write_prefix_code(bw, freq_g, 256 + 24)
    enc_r = _wp_write_prefix_code(bw, freq_r, 256)
    enc_b = _wp_write_prefix_code(bw, freq_b, 256)
    enc_a = _wp_write_prefix_code(bw, freq_a, 256)
    _wp_write_prefix_code(bw, {0: 1}, 40)  # unused distance code
    for p in pixels:
        _wp_emit_literal(bw, (enc_g, enc_r, enc_b, enc_a), p)


def _wp_add_px(a: int, b: int) -> int:
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) + (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) + (b >> 8)) & 0xFF) << 8)
        | ((a + b) & 0xFF)
    )


def _wp_sub_px(a: int, b: int) -> int:
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) - (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) - (b >> 8)) & 0xFF) << 8)
        | ((a - b) & 0xFF)
    )


def _wp_avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _wp_predict(mode, left, top, tl, tr):
    """Forward-side copy of the 14 spec predictors (independent of the
    decoder's `_vp8l_predict` — a divergence breaks the round trip and
    the oracle row)."""

    def chans(p):
        return ((p >> 24) & 255, (p >> 16) & 255, (p >> 8) & 255, p & 255)

    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _wp_avg2(_wp_avg2(left, tr), top)
    if mode == 6:
        return _wp_avg2(left, tl)
    if mode == 7:
        return _wp_avg2(left, top)
    if mode == 8:
        return _wp_avg2(tl, top)
    if mode == 9:
        return _wp_avg2(top, tr)
    if mode == 10:
        return _wp_avg2(_wp_avg2(left, tl), _wp_avg2(top, tr))
    lc, tc, tlc = chans(left), chans(top), chans(tl)
    if mode == 11:
        p_l = p_t = 0
        for i in range(4):
            est = lc[i] + tc[i] - tlc[i]
            p_l += abs(est - lc[i])
            p_t += abs(est - tc[i])
        return left if p_l < p_t else top
    if mode == 12:
        out = 0
        for i in range(4):
            v = lc[i] + tc[i] - tlc[i]
            out = (out << 8) | (0 if v < 0 else 255 if v > 255 else v)
        return out
    # mode 13: ClampAddSubtractHalf with C-truncating division
    avg = _wp_avg2(left, top)
    out = 0
    for i, a in enumerate(chans(avg)):
        d = a - tlc[i]
        v = a + (d // 2 if d >= 0 else -((-d) // 2))
        out = (out << 8) | (0 if v < 0 else 255 if v > 255 else v)
    return out


def _wp_encode_fixture(data: bytes, w: int, h: int, did: int) -> bytes:
    """One doc's pixels (gray = byte value, or palette class 4:
    gray = (byte %% 4) * 85) as a valid lossless WebP, encoding class
    cycling by doc_id %% 5 — see the module comment."""
    import struct

    cls = did % 5
    grays = list(data)
    argb = [0xFF000000 | g << 16 | g << 8 | g for g in grays]
    n = w * h
    bw = _WpBitWriter()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)  # alpha hint
    bw.put(0, 3)  # version

    def lz_token_stream(pixels, mapped_dist):
        """literal/backref token plan: runs of >=3 equal pixels become
        literal + dist-1 backref (mapped short code or plain 120+1)."""
        toks = []
        i = 0
        while i < len(pixels):
            j = i + 1
            while j < len(pixels) and pixels[j] == pixels[i]:
                j += 1
            run = j - i
            if run >= 3 and i > 0:
                toks.append(("lit", pixels[i]))
                toks.append(("ref", run - 1, 2 if mapped_dist else 121))
            elif run >= 4 and i == 0:
                toks.append(("lit", pixels[i]))
                toks.append(("ref", run - 1, 2 if mapped_dist else 121))
            else:
                toks.extend(("lit", pixels[k]) for k in range(i, j))
            i = j
        return toks

    def write_coded_image(pixels, *, cache_bits=0, toks=None, groups=None):
        """Top-level entropy-coded image: optional cache, optional
        2-group meta assignment, literals/backrefs per `toks`."""
        if cache_bits:
            bw.put(1, 1)
            bw.put(cache_bits, 4)
        else:
            bw.put(0, 1)
        if groups is None:
            bw.put(0, 1)  # no meta prefix
            group_of = [0] * len(pixels)
            n_groups = 1
        else:
            hbits, group_of, meta_px = groups
            bw.put(1, 1)
            bw.put(hbits - 2, 3)
            _wp_write_plain_image(bw, meta_px)
            n_groups = max(group_of) + 1
        if toks is None:
            toks = [("lit", p) for p in pixels]
        # assign each token to the group of its starting pixel, and
        # simulate the cache to plan hit/literal per token
        cache = [None] * (1 << cache_bits) if cache_bits else None
        plan = []  # (group, kind, payload...)
        pos = 0
        for t in toks:
            g = group_of[pos]
            if t[0] == "lit":
                p = t[1]
                if cache is not None:
                    idx = ((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)
                    if cache[idx] == p:
                        plan.append((g, "hit", idx))
                    else:
                        cache[idx] = p
                        plan.append((g, "lit", p))
                else:
                    plan.append((g, "lit", p))
                pos += 1
            else:
                _, length, dval = t
                plan.append((g, "ref", length, dval))
                if cache is not None:
                    for k in range(length):
                        p = pixels[pos + k]
                        idx = (
                            (0x1E35A7BD * p) & 0xFFFFFFFF
                        ) >> (32 - cache_bits)
                        cache[idx] = p
                pos += length
        # per-group frequencies
        cache_n = (1 << cache_bits) if cache_bits else 0
        freqs = [
            [dict(), dict(), dict(), dict(), dict()] for _ in range(n_groups)
        ]
        for step in plan:
            g = step[0]
            fg, fr, fb, fa, fd = freqs[g]
            if step[1] == "lit":
                p = step[2]
                for d, v in (
                    (fg, (p >> 8) & 255),
                    (fr, (p >> 16) & 255),
                    (fb, p & 255),
                    (fa, (p >> 24) & 255),
                ):
                    d[v] = d.get(v, 0) + 1
            elif step[1] == "hit":
                fg[280 + step[2]] = fg.get(280 + step[2], 0) + 1
            else:
                lsym = _wp_lz77_sym(step[2])[0]
                dsym = _wp_lz77_sym(step[3])[0]
                fg[256 + lsym] = fg.get(256 + lsym, 0) + 1
                fd[dsym] = fd.get(dsym, 0) + 1
        encs = []
        for g in range(n_groups):
            fg, fr, fb, fa, fd = freqs[g]
            encs.append(
                (
                    _wp_write_prefix_code(bw, fg, 256 + 24 + cache_n),
                    _wp_write_prefix_code(bw, fr or {0: 1}, 256),
                    _wp_write_prefix_code(bw, fb or {0: 1}, 256),
                    _wp_write_prefix_code(bw, fa or {0: 1}, 256),
                    _wp_write_prefix_code(bw, fd or {0: 1}, 40),
                )
            )
        for step in plan:
            enc_g, enc_r, enc_b, enc_a, enc_d = encs[step[0]]
            if step[1] == "lit":
                _wp_emit_literal(
                    bw, (enc_g, enc_r, enc_b, enc_a), step[2]
                )
            elif step[1] == "hit":
                nb, c = enc_g[280 + step[2]]
                if nb:
                    bw.put_code(c, nb)
            else:
                lsym, lev, leb = _wp_lz77_sym(step[2])
                nb, c = enc_g[256 + lsym]
                if nb:
                    bw.put_code(c, nb)
                if leb:
                    bw.put(lev, leb)
                dsym, dev, deb = _wp_lz77_sym(step[3])
                nb, c = enc_d[dsym]
                if nb:
                    bw.put_code(c, nb)
                if deb:
                    bw.put(dev, deb)

    if cls == 0:
        bw.put(0, 1)  # no transforms
        if (did // 5) % 2:
            hbits = 2
            mw, mh = -(-w // 4), -(-h // 4)
            meta_px = [
                0xFF000000 | (((tx + ty) % 2) << 8)
                for ty in range(mh)
                for tx in range(mw)
            ]
            group_of = [
                ((x >> hbits) + (y >> hbits)) % 2
                for y in range(h)
                for x in range(w)
            ]
            write_coded_image(argb, groups=(hbits, group_of, meta_px))
        else:
            write_coded_image(argb)
    elif cls == 1:
        bw.put(1, 1)
        bw.put(2, 2)  # subtract-green
        bw.put(0, 1)  # end transforms
        res = [0xFF000000 | g << 8 for g in grays]  # r'=b'=0 for gray
        write_coded_image(
            res, toks=lz_token_stream(res, mapped_dist=(did // 5) % 2)
        )
    elif cls == 2:
        bw.put(0, 1)  # no transforms
        write_coded_image(argb, cache_bits=4)
    elif cls == 3:
        bw.put(1, 1)
        bw.put(0, 2)  # predictor transform
        bw.put(0, 3)  # size_bits = 2 -> 4x4 tiles
        tiles_w, tiles_h = -(-w // 4), -(-h // 4)
        modes = [
            (did + t) % 14 for t in range(tiles_w * tiles_h)
        ]
        _wp_write_plain_image(
            bw, [0xFF000000 | m << 8 for m in modes]
        )
        bw.put(0, 1)  # end transforms
        res = []
        for i in range(n):
            x, y = i % w, i // w
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = argb[i - 1]
            elif x == 0:
                pred = argb[i - w]
            else:
                pred = _wp_predict(
                    modes[(y >> 2) * tiles_w + (x >> 2)],
                    argb[i - 1],
                    argb[i - w],
                    argb[i - w - 1],
                    argb[i - w + 1],
                )
            res.append(_wp_sub_px(argb[i], pred))
        write_coded_image(res)
    else:  # cls == 4: color indexing, 4-gray palette, 2-bit bundling
        idx = [g % 4 for g in grays]
        pal = [0xFF000000 | (85 * k) * 0x010101 for k in range(4)]
        bw.put(1, 1)
        bw.put(3, 2)  # color indexing
        bw.put(3, 8)  # palette size - 1
        deltas = [pal[0]] + [
            _wp_sub_px(pal[k], pal[k - 1]) for k in range(1, 4)
        ]
        _wp_write_plain_image(bw, deltas)
        bw.put(0, 1)  # end transforms
        rw = -(-w // 4)
        packed = []
        for y in range(h):
            for px in range(rw):
                byte = 0
                for j in range(4):
                    x = px * 4 + j
                    if x < w:
                        byte |= idx[y * w + x] << (2 * j)
                packed.append(0xFF000000 | byte << 8)
        write_coded_image(packed)

    vp8l = b"\x2f" + bw.tobytes()
    pad = b"\x00" if len(vp8l) & 1 else b""
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(vp8l) + len(pad))
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(vp8l))
        + vp8l
        + pad
    )


def _doc_webp_media(spark, sf_dir):
    """Each doc as a valid LOSSLESS WebP whose pixels are the doc's
    text bytes as gray levels (rpad/truncated to w*h, the shared pixel
    source; palette class maps byte -> (byte %% 4) * 85), with the
    encoding class cycling by doc_id %% 5 across: plain normal-coded
    literals (+ an entropy image with two code groups on alternating
    docs), subtract-green + LZ77 backrefs (mapped short-distance codes
    on alternating docs), a 16-entry color cache, the predictor
    transform with tile modes sweeping all 14 predictors, and a
    bundled 4-color palette. Any decoder defect — prefix-code
    reconstruction, distance mapping, cache hashing, transform
    inversion — changes pixel values and hash-mismatches the oracle."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h = did % 6 + 3, did % 4 + 2
                raw = (text or "").encode("utf-8")[: w * h].ljust(
                    w * h, b"x"
                )
                payloads.append(_wp_encode_fixture(raw, w, h, did))
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return _spread(docs).mapInPandas(build, schema="media_id bigint, content binary")


def q_multimodal_webp_luma_hist(spark, sf_dir):
    """The WebP face of the real-pixel tier (pipeline/multimodal.py
    _webp_pixels — VP8L per RFC 9649): canonical prefix codes, LZ77
    with the 120-entry distance map, color cache, entropy image, and
    all four transforms, feeding the 16-bin integer luma histogram.
    Gray pixel g has luma exactly g, so the oracle derives expectations
    straight from the text bytes (palette class: (byte % 4) * 85) —
    any bitstream or transform defect changes counted values and
    hash-mismatches. Encoder-independent bitstream vectors pin the
    decoder branch-by-branch in tests/test_webp.py."""
    from lotad_spark.pipeline.multimodal import extract_feature_counts

    return extract_feature_counts(
        _doc_webp_media(spark, sf_dir), kind="luma"
    ).select(
        "media_id",
        "kind",
        F.array_join(F.col("hist").cast("array<string>"), ",").alias(
            "hist"
        ),
    )


def q_readability(spark, sf_dir):
    """Flesch reading-ease in exact integer micro-units
    (pipeline/text.py readability): sentence/word/vowel-group counts
    plus the micro-unit score with clamped floor divisions — replayed
    verbatim in SQL from the module regex constants, so any rounding
    or clamping divergence hash-mismatches."""
    from lotad_spark.pipeline.text import readability

    return readability(_t(spark, sf_dir, "documents"))


def _readability_sql() -> str:
    from lotad_spark.pipeline.text import (
        READABILITY_SENT_RE,
        READABILITY_VOWEL_RE,
        READABILITY_WORD_RE,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    def n(pat):
        return f"len(regexp_extract_all(text, {q(pat)}))"

    s, w, v = (
        n(READABILITY_SENT_RE),
        n(READABILITY_WORD_RE),
        n(READABILITY_VOWEL_RE),
    )
    return (
        "SELECT doc_id, "
        f"CAST({s} AS INT) AS n_sentences, "
        f"CAST({w} AS INT) AS n_words, "
        f"CAST({v} AS INT) AS n_vowel_groups, "
        f"CAST(206835000 - (1015000 * {w}) // greatest({s}, 1) "
        f"- (84600000 * {v}) // greatest({w}, 1) AS BIGINT) "
        "AS flesch_micro FROM documents"
    )


def q_script_profile(spark, sf_dir):
    """Unicode script profiling (pipeline/text.py script_profile):
    per-script character counts over the documents corpus plus the
    dominant script with first-listed tie-breaks. The oracle replays
    each class count with the SAME raw-character class (the literal
    chars mean the same to Java regex and RE2) and the dominant-pick
    CASE chain in SQL."""
    from lotad_spark.pipeline.text import script_profile

    return script_profile(_t(spark, sf_dir, "documents"))


def _script_profile_sql() -> str:
    from lotad_spark.pipeline.text import SCRIPT_CLASSES

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    counts = {
        name: (
            f"len(text) - len(regexp_replace(text, {q(pat)}, '', 'g'))"
        )
        for name, pat in SCRIPT_CLASSES
    }
    cols = ", ".join(
        f"CAST({expr} AS INT) AS {name}_chars"
        for name, expr in counts.items()
    )
    best = "greatest(" + ", ".join(counts.values()) + ")"
    dom = "CASE "
    for name, expr in counts.items():
        dom += f"WHEN {best} > 0 AND {expr} = {best} THEN {q(name)} "
    dom += "ELSE CASE WHEN text IS NULL THEN NULL ELSE 'none' END END"
    return (
        "SELECT doc_id, CAST(len(text) AS INT) AS n_chars, "
        + cols
        + ", " + dom + " AS dominant_script FROM documents"
    )


def _doc_exif_png_media(spark, sf_dir):
    """Each doc as an 8-bit GRAYSCALE PNG (filter 0, real CRCs) whose
    pixels are the doc's text bytes (the shared w*h formula), carrying
    an eXIf chunk whose orientation cycles doc_id %% 8 + 1 — the
    rotation-normalized hash must read pixels through the declared
    orientation, so every one of the 8 mappings lands in the oracle
    corpus."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import struct
        import zlib

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w, h = did % 5 + 2, did % 3 + 1
                raw = (text or "").encode("utf-8")[: w * h].ljust(
                    w * h, b"x"
                )
                rows = b"".join(
                    b"\x00" + raw[y * w : (y + 1) * w] for y in range(h)
                )
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"eXIf", _exif_blob(did))
                    + chunk(b"IDAT", zlib.compress(rows))
                    + chunk(b"IEND", b"")
                )
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_image_ahash_oriented(spark, sf_dir):
    """Orientation-normalized perceptual hashing — the r15 composition
    of the EXIF tier into the hash tier (multimodal.py
    image_hashes(normalize_orientation=True) +
    _apply_exif_orientation): the decoded pixels upright per the
    declared EXIF orientation BEFORE the aHash resample, so sideways
    camera shots and their upright re-encodes collapse. The fixture's
    orientation cycles all 8 values over gray PNGs with an eXIf
    chunk; the oracle replays the per-orientation (ny,nx)->(sy,sx)
    coordinate mapping, the resample, and the bit packing in SQL."""
    from lotad_spark.pipeline.multimodal import image_hashes

    return image_hashes(
        _doc_exif_png_media(spark, sf_dir),
        kinds=("ahash",),
        normalize_orientation=True,
    )


# normalized dims (nw, nh) swap for orientations 5-8; cell i of the
# 8x8 grid samples normalized (ny, nx) = ((i//8)*nh//8, (i%8)*nw//8),
# which maps to source (sy, sx) per the CIPA orientation semantics;
# gray pixels mean luma == byte value at sy*w + sx.
_IMAGE_AHASH_ORIENTED_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, "
    "CAST(doc_id % 5 + 2 AS BIGINT) AS w, "
    "CAST(doc_id % 3 + 1 AS BIGINT) AS h, "
    "CAST(doc_id % 8 + 1 AS BIGINT) AS o, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) AS INT), 'x') "
    "AS px FROM documents), "
    "dims AS (SELECT *, "
    "CASE WHEN o >= 5 THEN h ELSE w END AS nw, "
    "CASE WHEN o >= 5 THEN w ELSE h END AS nh FROM base), "
    "cells AS (SELECT media_id, list_transform(range(0, 64), i -> "
    "ord(substr(px, CAST("
    "(CASE o WHEN 1 THEN ((i // 8) * nh // 8) "
    "WHEN 2 THEN ((i // 8) * nh // 8) "
    "WHEN 3 THEN h - 1 - ((i // 8) * nh // 8) "
    "WHEN 4 THEN h - 1 - ((i // 8) * nh // 8) "
    "WHEN 5 THEN ((i % 8) * nw // 8) "
    "WHEN 6 THEN h - 1 - ((i % 8) * nw // 8) "
    "WHEN 7 THEN h - 1 - ((i % 8) * nw // 8) "
    "ELSE ((i % 8) * nw // 8) END) * w + "
    "(CASE o WHEN 1 THEN ((i % 8) * nw // 8) "
    "WHEN 2 THEN w - 1 - ((i % 8) * nw // 8) "
    "WHEN 3 THEN w - 1 - ((i % 8) * nw // 8) "
    "WHEN 4 THEN ((i % 8) * nw // 8) "
    "WHEN 5 THEN ((i // 8) * nh // 8) "
    "WHEN 6 THEN ((i // 8) * nh // 8) "
    "WHEN 7 THEN w - 1 - ((i // 8) * nh // 8) "
    "ELSE w - 1 - ((i // 8) * nh // 8) END) "
    "+ 1 AS INT), 1))) AS cl FROM dims), "
    "m AS (SELECT media_id, cl, list_sum(cl) // 64 AS mean FROM cells) "
    "SELECT media_id, 'ahash' AS kind, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 33 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS ahash_hi, "
    "CAST(list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN cl[CAST(i + 1 AS INT)] > mean THEN (1::BIGINT << i) "
    "ELSE 0 END)) AS BIGINT) AS ahash_lo FROM m"
)


def q_main_content(spark, sf_dir):
    """Main-content extraction (pipeline/web.py main_content): block
    splitting at tag boundaries, link-density + length scoring with
    integer-percent branches, newline join, single-pass entity decode
    — over the same template-built HTML corpus as html_extract (whose
    nav/footer boilerplate blocks must drop and whose doc-text block
    must survive). The oracle regenerates the page and replays the
    whole chain in SQL from the module constants."""
    from lotad_spark.pipeline.web import main_content

    return main_content(
        _doc_html_frame(spark, sf_dir), "html", id_col="doc_id"
    ).select("doc_id", "main_text", "n_blocks", "n_kept")


def _main_content_sql() -> str:
    from lotad_spark.pipeline.web import (
        HTML_TEXT_STEPS,
        MAIN_ANCHOR_RE,
        MAIN_BLOCK_SPLIT_RE,
        MAIN_TAG_RE,
        MAIN_WS_RE,
    )

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    cleaned = "html"
    for pat, rep in HTML_TEXT_STEPS[:3]:
        cleaned = f"regexp_replace({cleaned}, {q(pat)}, {q(rep)}, 'gs')"

    def txt(b):
        return (
            f"trim(regexp_replace(regexp_replace({b}, {q(MAIN_TAG_RE)}, "
            f"' ', 'gs'), {q(MAIN_WS_RE)}, ' ', 'g'))"
        )

    def ltxt(b):
        # DuckDB's array_to_string([]) is NULL where Spark's
        # array_join([]) is '' — coalesce aligns the engines
        joined = (
            f"coalesce(array_to_string(regexp_extract_all({b}, "
            f"{q(MAIN_ANCHOR_RE)}, 1), ' '), '')"
        )
        return txt(joined)

    blocks = f"string_split_regex({cleaned}, {q(MAIN_BLOCK_SPLIT_RE)})"
    keep = (
        f"len({txt('b')}) >= 25 AND "
        f"len({ltxt('b')}) * 100 <= len({txt('b')}) * 50"
    )
    kept = (
        f"list_transform(list_filter({blocks}, b -> {keep}), "
        f"b -> {txt('b')})"
    )
    inner = (
        "SELECT doc_id, "
        f"coalesce(array_to_string({kept}, chr(10)), '') AS joined, "
        f"len(list_filter({blocks}, b -> len({txt('b')}) > 0)) AS nb, "
        f"len({kept}) AS nk FROM (" + _html_build_sql() + ")"
    )
    return (
        "SELECT doc_id, "
        + _entity_decode_sql("joined")
        + " AS main_text, CAST(nb AS INT) AS n_blocks, "
        "CAST(nk AS INT) AS n_kept FROM (" + inner + ")"
    )


def q_template_fingerprint(spark, sf_dir):
    """Template fingerprinting (pipeline/web.py template_fingerprint)
    over the SAME template-built HTML corpus as html_extract: md5 of
    the lowercased tag-name sequence plus tag counts. Docs whose text
    carries markup-like characters perturb the sequence — both engines
    must extract identically from the identical page, so the oracle
    regenerates the HTML and replays the tag scan in SQL."""
    from lotad_spark.pipeline.web import template_fingerprint

    return template_fingerprint(
        _doc_html_frame(spark, sf_dir), "html", id_col="doc_id"
    ).select("doc_id", "template_fp", "n_tags", "n_distinct_tags")


def _template_fingerprint_sql() -> str:
    from lotad_spark.pipeline.web import TEMPLATE_TAG_RE

    re_sql = "'" + TEMPLATE_TAG_RE.replace("'", "''") + "'"
    tags = (
        f"list_transform(regexp_extract_all(html, {re_sql}, 1), "
        "t -> lower(t))"
    )
    # coalesce: DuckDB array_to_string([], ',') is NULL where Spark
    # array_join([], ',') is '' — a zero-tag page must fingerprint as
    # md5('') in both engines (same alignment as _main_content_sql).
    return (
        "SELECT doc_id, "
        f"md5(coalesce(array_to_string({tags}, ','), '')) AS template_fp, "
        f"CAST(len({tags}) AS INT) AS n_tags, "
        f"CAST(len(list_distinct({tags})) AS INT) AS n_distinct_tags "
        "FROM (" + _html_build_sql() + ")"
    )


def _doc_sitemap_xml(spark, sf_dir):
    """Each doc as a sitemap document built by a pure JVM expression:
    even docs are a ``<urlset>`` with doc_id%3+1 page entries (escaped
    ``&amp;`` in every loc, whitespace padding inside ``<loc>``,
    ``<lastmod>`` on alternating entries), odd docs a
    ``<sitemapindex>`` with child sitemap refs — newlines between
    elements so the (?s) block patterns are load-bearing."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    is_urlset = F.col("doc_id") % 2 == 0

    def url_entry(i):
        num = (F.col("doc_id") * 10 + i).cast("string")
        lastmod = F.when(
            i % 2 == 0,
            F.concat(
                F.lit("<lastmod> 2026-01-0"),
                (i + 1).cast("string"),
                F.lit(" </lastmod>"),
            ),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("<url>\n<loc> https://ex.com/p?a=1&amp;id="),
            num,
            F.lit(" </loc>\n"),
            lastmod,
            F.lit("</url>\n"),
        )

    def child_entry(i):
        num = (F.col("doc_id") * 10 + i).cast("string")
        return F.concat(
            F.lit("<sitemap>\n<loc>https://ex.com/sm/"),
            num,
            F.lit(".xml</loc>\n</sitemap>\n"),
        )

    entries = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.col("doc_id") % 3),
            lambda i: F.when(is_urlset, url_entry(i)).otherwise(
                child_entry(i)
            ),
        ),
        "",
    )
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'),
        F.when(
            is_urlset,
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'),
        ).otherwise(
            F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n')
        ),
        entries,
        F.when(is_urlset, F.lit("</urlset>")).otherwise(
            F.lit("</sitemapindex>")
        ),
    )
    return docs.select("doc_id", xml.alias("xml"))


def q_sitemap_urls(spark, sf_dir):
    """Sitemap parsing (pipeline/web.py sitemap_urls): urlset page
    entries and sitemapindex children, XML entity unescape in loc,
    whitespace trimming, NULL lastmod when absent — the discovery
    companion to the robots gate (RFC 9309's Sitemap directive). The
    fixture is built AND parsed by JVM expressions; the oracle derives
    every entry arithmetically from doc_id."""
    from lotad_spark.pipeline.web import sitemap_urls

    return sitemap_urls(
        _doc_sitemap_xml(spark, sf_dir), "xml", id_col="doc_id"
    ).select("doc_id", "kind", "url", "lastmod")


_SITEMAP_URLS_SQL = (
    "WITH n AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS i "
    "FROM documents) "
    "SELECT doc_id, "
    "CASE WHEN doc_id % 2 = 0 THEN 'url' ELSE 'sitemap' END AS kind, "
    "CASE WHEN doc_id % 2 = 0 "
    "THEN 'https://ex.com/p?a=1&id=' || CAST(doc_id * 10 + i AS VARCHAR) "
    "ELSE 'https://ex.com/sm/' || CAST(doc_id * 10 + i AS VARCHAR) || '.xml' "
    "END AS url, "
    "CASE WHEN doc_id % 2 = 0 AND i % 2 = 0 "
    "THEN '2026-01-0' || CAST(i + 1 AS VARCHAR) END AS lastmod "
    "FROM n"
)


def _exif_blob(did: int) -> bytes:
    """A TIFF-structured EXIF block (independent writer): IFD0 with
    Make/Model/Orientation/DateTime + the Exif sub-IFD pointer, the
    sub-IFD with the pixel dimensions; byte order cycles by doc
    parity; ASCII values exercise both inline (<=4 bytes) and
    offset-stored layouts."""
    import struct

    bo = "<" if did % 2 == 0 else ">"
    make = f"Maker{did % 5}".encode() + b"\x00"  # 7 bytes: offset-stored
    model = f"M-{did % 7}".encode() + b"\x00"  # 4 bytes: inline
    dt = f"2026:01:{did % 28 + 1:02d} 12:00:00".encode() + b"\x00"
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 5 * 12 + 4
    extra_off = exif_off + 2 + 2 * 12 + 4
    extra = make + dt

    def entry(tag, typ, cnt, val4):
        return struct.pack(bo + "HHI", tag, typ, cnt) + val4

    def u32(v):
        return struct.pack(bo + "I", v)

    ifd0 = struct.pack(bo + "H", 5)
    ifd0 += entry(271, 2, len(make), u32(extra_off))
    ifd0 += entry(272, 2, len(model), model)
    ifd0 += entry(274, 3, 1, struct.pack(bo + "H", did % 8 + 1) + b"\x00\x00")
    ifd0 += entry(306, 2, len(dt), u32(extra_off + len(make)))
    ifd0 += entry(34665, 4, 1, u32(exif_off))
    ifd0 += u32(0)
    exif = struct.pack(bo + "H", 2)
    exif += entry(40962, 4, 1, u32(did % 6 + 3))
    exif += entry(40963, 4, 1, u32(did % 4 + 2))
    exif += u32(0)
    return (
        (b"II" if bo == "<" else b"MM")
        + struct.pack(bo + "HI", 42, ifd0_off)
        + ifd0
        + exif
        + extra
    )


def _exif_gps_blob(did: int) -> bytes:
    """A TIFF-structured EXIF block whose IFD0 holds only the GPS IFD
    pointer; the GPS IFD carries lat/lon DMS rationals (seconds with
    denominator 100 — non-integer rationals exercised), N/S and E/W
    refs, and a decimeter-denominator altitude with the
    below-sea-level ref byte — all derived from doc_id so the oracle
    replays the micro-degree fold arithmetically. Byte order cycles
    by doc parity like _exif_blob."""
    import struct

    bo = "<" if did % 2 == 0 else ">"

    def entry(tag, typ, cnt, val4):
        return struct.pack(bo + "HHI", tag, typ, cnt) + val4

    def u32(v):
        return struct.pack(bo + "I", v)

    def rat(n, d):
        return struct.pack(bo + "II", n, d)

    ifd0_off = 8
    gps_off = ifd0_off + 2 + 1 * 12 + 4  # 26
    data_off = gps_off + 2 + 6 * 12 + 4  # 104
    lat_off, lon_off, alt_off = data_off, data_off + 24, data_off + 48
    ifd0 = struct.pack(bo + "H", 1)
    ifd0 += entry(34853, 4, 1, u32(gps_off))
    ifd0 += u32(0)
    lat_ref = b"N\x00\x00\x00" if did % 2 == 0 else b"S\x00\x00\x00"
    lon_ref = b"W\x00\x00\x00" if did % 3 == 0 else b"E\x00\x00\x00"
    gps = struct.pack(bo + "H", 6)
    gps += entry(1, 2, 2, lat_ref)
    gps += entry(2, 5, 3, u32(lat_off))
    gps += entry(3, 2, 2, lon_ref)
    gps += entry(4, 5, 3, u32(lon_off))
    gps += entry(5, 1, 1, bytes([1 if did % 5 == 0 else 0, 0, 0, 0]))
    gps += entry(6, 5, 1, u32(alt_off))
    gps += u32(0)
    data = (
        rat(did % 90, 1) + rat(did % 60, 1) + rat((did % 600) * 10, 100)
        + rat(did % 180, 1) + rat((did * 7) % 60, 1)
        + rat(((did * 11) % 600) * 10, 100)
        + rat((did * 37) % 5000, 10)
    )
    return (
        (b"II" if bo == "<" else b"MM")
        + struct.pack(bo + "HI", 42, ifd0_off)
        + ifd0
        + gps
        + data
    )


def _exif_container(did: int, blob: bytes | None = None) -> bytes:
    """The EXIF block wrapped in the container cycling by doc_id % 4:
    JPEG APP1, bare TIFF, WebP EXIF chunk (with and without the
    Exif\\0\\0 prefix, cycling), PNG eXIf chunk (real CRCs)."""
    import struct
    import zlib

    if blob is None:
        blob = _exif_blob(did)
    v = did % 4
    if v == 0:
        app1 = b"Exif\x00\x00" + blob
        return (
            b"\xff\xd8\xff\xe1"
            + struct.pack(">H", len(app1) + 2)
            + app1
            + b"\xff\xd9"
        )
    if v == 1:
        return blob
    if v == 2:
        data = (b"Exif\x00\x00" + blob) if (did // 4) % 2 else blob
        pad = b"\x00" if len(data) & 1 else b""
        vp8x = b"\x08\x00\x00\x00" + (0).to_bytes(3, "little") + (
            0
        ).to_bytes(3, "little")
        chunks = (
            b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
            + b"EXIF" + struct.pack("<I", len(data)) + data + pad
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks

    def png_chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"eXIf", blob)
        + png_chunk(b"IEND", b"")
    )


def _doc_exif_media(spark, sf_dir):
    """Each doc as a media payload carrying a deterministic EXIF block
    (fields derived from doc_id), the container cycling JPEG-APP1 /
    TIFF / WebP-chunk / PNG-eXIf — all four extraction paths land in
    the oracle corpus."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [_exif_container(int(d)) for d in pdf["doc_id"]]
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return docs.mapInPandas(build, schema="media_id bigint, content binary")


def q_exif_gps(spark, sf_dir):
    """EXIF GPS extraction (multimodal.py exif_gps/extract_exif_gps —
    NEW r16): the GPS IFD's DMS rationals fold to signed integer
    micro-degrees with per-term floor division (sign from the
    N/S/E/W refs, applied last), altitude to millimeters with the
    below-sea-level ref; every 9th doc carries the GPS-less _exif_blob
    (kind='none', NULL fields). Containers and byte orders cycle like
    the exif_metadata row; all values derive from doc_id so the
    oracle replays the fold arithmetically."""
    from lotad_spark.pipeline.multimodal import extract_exif_gps

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [
                _exif_container(
                    int(d),
                    blob=(
                        _exif_blob(int(d))
                        if d % 9 == 4
                        else _exif_gps_blob(int(d))
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    media = docs.mapInPandas(
        build, schema="media_id bigint, content binary"
    )
    return extract_exif_gps(media)


_EXIF_GPS_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 9 = 4 THEN 'none' ELSE 'gps' END AS kind, "
    "CASE WHEN doc_id % 9 = 4 THEN NULL ELSE "
    "(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) * "
    "CAST((doc_id % 90) * 1000000 + ((doc_id % 60) * 1000000) // 60 + "
    "(((doc_id % 600) * 10) * 1000000) // 360000 AS BIGINT) END "
    "AS lat_micro_deg, "
    "CASE WHEN doc_id % 9 = 4 THEN NULL ELSE "
    "(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE 1 END) * "
    "CAST((doc_id % 180) * 1000000 + "
    "(((doc_id * 7) % 60) * 1000000) // 60 + "
    "((((doc_id * 11) % 600) * 10) * 1000000) // 360000 AS BIGINT) END "
    "AS lon_micro_deg, "
    "CASE WHEN doc_id % 9 = 4 THEN NULL ELSE "
    "(CASE WHEN doc_id % 5 = 0 THEN -1 ELSE 1 END) * "
    "CAST((((doc_id * 37) % 5000) * 1000) // 10 AS BIGINT) END "
    "AS alt_milli_m FROM documents"
)


def _provenance_container(did: int) -> bytes:
    """One media payload for the provenance row, container cycling by
    doc_id % 6: (0) PNG tEXt Software + Comment, (1) JPEG COM comment
    + APP1-EXIF Software (tag 305), (2) PNG zTXt Software (zlib), (3)
    PNG iTXt Description (flag 0, lang/translated filled), (4) bare
    TIFF tag 305, (5, r17) SVG with the Adobe Generator comment and a
    <desc>. r18: every did%12==6 doc delivers software via the PNG
    XMP iTXt packet (CreatorTool, attribute form) and every
    did%12==7 via the JPEG XMP APP1 (element form) — same outputs,
    two more real carriers value-checked in the row. Every
    doc_id % 7 == 3 doc is an untagged P6 instead (the kind='none'
    path). Field values derive from doc_id."""
    import struct
    import zlib

    if did % 7 == 3:
        return b"P6\n1 1\n255\n" + b"abc"
    sw = f"gen-{did % 4}/1.{did % 3}"
    cm = f"c {did % 11}"
    v = did % 6
    if v == 5:
        return (
            '<?xml version="1.0"?>\n'
            f"<!-- Generator: {sw} -->\n"
            '<svg xmlns="http://www.w3.org/2000/svg" width="3" '
            f'height="2"><desc>{cm}</desc><rect/></svg>'
        ).encode("utf-8")

    def png(chunks: list[tuple[bytes, bytes]]) -> bytes:
        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        for typ, data in chunks:
            out += chunk(typ, data)
        return out + chunk(b"IEND", b"")

    if v == 0:
        if did % 12 == 6:
            # r18: software via the XMP iTXt packet (CreatorTool)
            # instead of tEXt — same output, new carrier in the row
            xmp = (
                '<x:xmpmeta xmlns:x="adobe:ns:meta/">'
                '<rdf:Description xmlns:xmp='
                '"http://ns.adobe.com/xap/1.0/" '
                f'xmp:CreatorTool="{sw}"/></x:xmpmeta>'
            ).encode("utf-8")
            return png([
                (
                    b"iTXt",
                    b"XML:com.adobe.xmp\x00\x00\x00\x00\x00" + xmp,
                ),
                (b"tEXt", b"Comment\x00" + cm.encode("latin-1")),
            ])
        return png([
            (b"tEXt", b"Software\x00" + sw.encode("latin-1")),
            (b"tEXt", b"Comment\x00" + cm.encode("latin-1")),
        ])
    if v == 1:
        if did % 12 == 7:
            # r18: software via the XMP APP1 CreatorTool (element
            # form) instead of the Exif APP1 — same output
            xmp = (
                "<x:xmpmeta><rdf:Description>"
                f"<xmp:CreatorTool>{sw}</xmp:CreatorTool>"
                "</rdf:Description></x:xmpmeta>"
            ).encode("utf-8")
            app1 = b"http://ns.adobe.com/xap/1.0/\x00" + xmp
            com = cm.encode("latin-1")
            return (
                b"\xff\xd8\xff\xe1"
                + struct.pack(">H", len(app1) + 2)
                + app1
                + b"\xff\xfe"
                + struct.pack(">H", len(com) + 2)
                + com
                + b"\xff\xd9"
            )
        bo = "<" if did % 2 == 0 else ">"
        swb = sw.encode("latin-1") + b"\x00"
        ifd0 = struct.pack(bo + "H", 1)
        ifd0 += struct.pack(bo + "HHI", 305, 2, len(swb)) + struct.pack(
            bo + "I", 8 + 2 + 12 + 4
        )
        ifd0 += struct.pack(bo + "I", 0)
        blob = (
            (b"II" if bo == "<" else b"MM")
            + struct.pack(bo + "HI", 42, 8)
            + ifd0
            + swb
        )
        app1 = b"Exif\x00\x00" + blob
        com = cm.encode("latin-1")
        return (
            b"\xff\xd8\xff\xe1"
            + struct.pack(">H", len(app1) + 2)
            + app1
            + b"\xff\xfe"
            + struct.pack(">H", len(com) + 2)
            + com
            + b"\xff\xd9"
        )
    if v == 2:
        return png([
            (
                b"zTXt",
                b"Software\x00\x00"
                + zlib.compress(sw.encode("latin-1")),
            )
        ])
    if v == 3:
        return png([
            (
                b"iTXt",
                b"Description\x00\x00\x00en\x00desc\x00"
                + cm.encode("utf-8"),
            )
        ])
    bo = "<" if did % 2 == 0 else ">"
    swb = sw.encode("latin-1") + b"\x00"
    ifd0 = struct.pack(bo + "H", 1)
    ifd0 += struct.pack(bo + "HHI", 305, 2, len(swb)) + struct.pack(
        bo + "I", 8 + 2 + 12 + 4
    )
    ifd0 += struct.pack(bo + "I", 0)
    return (
        (b"II" if bo == "<" else b"MM")
        + struct.pack(bo + "HI", 42, 8)
        + ifd0
        + swb
    )


def q_image_provenance(spark, sf_dir):
    """Image provenance tags (multimodal.py image_provenance /
    extract_image_provenance — NEW r16): Software/Comment strings
    from PNG tEXt/zTXt/iTXt, the JPEG COM segment, and the EXIF
    Software tag (305) — the curation signal that flags generated
    images (generators stamp exactly these fields) so they can be
    capped or routed. All five carrying forms cycle by doc_id; every
    7th+3 doc is untagged (kind='none'); values derive from doc_id so
    the oracle is arithmetic."""
    from lotad_spark.pipeline.multimodal import extract_image_provenance

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = [
                _provenance_container(int(d)) for d in pdf["doc_id"]
            ]
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    media = docs.mapInPandas(
        build, schema="media_id bigint, content binary"
    )
    return extract_image_provenance(media)


_IMAGE_PROVENANCE_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 7 = 3 THEN 'none' ELSE 'tagged' END AS kind, "
    "CASE WHEN doc_id % 7 = 3 OR doc_id % 6 = 3 THEN NULL ELSE "
    "'gen-' || CAST(doc_id % 4 AS VARCHAR) || '/1.' || "
    "CAST(doc_id % 3 AS VARCHAR) END AS software, "
    "CASE WHEN doc_id % 7 = 3 OR doc_id % 6 IN (2, 4) THEN NULL ELSE "
    "'c ' || CAST(doc_id % 11 AS VARCHAR) END AS comment "
    "FROM documents"
)


def q_exif_metadata(spark, sf_dir):
    """EXIF extraction across all four carrying containers
    (multimodal.py exif_metadata/extract_exif): byte-order cycling,
    inline and offset-stored ASCII, the Exif sub-IFD hop, and the
    WebP prefix variants all land in the checked rows; every field
    derives from doc_id so the oracle replays them arithmetically."""
    from lotad_spark.pipeline.multimodal import extract_exif

    return extract_exif(_doc_exif_media(spark, sf_dir)).select(
        "media_id", "kind", "orientation", "make", "model",
        "datetime", "pixel_w", "pixel_h",
    )


_EXIF_METADATA_SQL = (
    "SELECT doc_id AS media_id, 'exif' AS kind, "
    "CAST(doc_id % 8 + 1 AS INT) AS orientation, "
    "'Maker' || CAST(doc_id % 5 AS VARCHAR) AS make, "
    "'M-' || CAST(doc_id % 7 AS VARCHAR) AS model, "
    "'2026:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || "
    "' 12:00:00' AS \"datetime\", "
    "CAST(doc_id % 6 + 3 AS INT) AS pixel_w, "
    "CAST(doc_id % 4 + 2 AS INT) AS pixel_h FROM documents"
)


def _lzw_encode_fixture(data: bytes, early: int = 1) -> bytes:
    """Fixture-side PDF LZWDecode encoder (TIFF variable-width codes,
    MSB-first, 256=Clear / 257=EOD). Width bumps mirror the DECODER's
    schedule by construction: the encoder simulates the decoder's
    next-code counter (one behind its own — the decoder learns each
    entry one code later) so every code is written at exactly the
    width the decoder will read it with."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    enc_next = 258
    dec_next = 258
    first = True
    emit(256)

    def after_emit() -> None:
        nonlocal dec_next, width, first
        if not first:
            dec_next += 1
            if dec_next + early >= (1 << width) and width < 12:
                width += 1
        first = False

    w = b""
    for i in range(len(data)):
        wc = w + data[i : i + 1]
        if wc in table:
            w = wc
            continue
        emit(table[w])
        after_emit()
        if enc_next < 4096:
            table[wc] = enc_next
            enc_next += 1
        w = wc[-1:]
    if w:
        emit(table[w])
        after_emit()
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _png_predict_fixture(data: bytes, columns: int) -> bytes:
    """Forward-apply PNG row filters (DecodeParms /Predictor >= 10,
    Colors 1, 8 bpc) for the fixture: row i uses filter type i %% 5,
    so one document exercises None/Sub/Up/Average/Paeth. ``data`` must
    already be padded to a multiple of ``columns``."""
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), columns):
        row = data[r : r + columns]
        ft = (r // columns) % 5
        out.append(ft)
        for i, x in enumerate(row):
            a = row[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            if ft == 0:
                ref = 0
            elif ft == 1:
                ref = a
            elif ft == 2:
                ref = b
            elif ft == 3:
                ref = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                ref = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - ref) & 0xFF)
        prev = row
    return bytes(out)


def _pdf_fixture(text: str, did: int) -> bytes:
    """One doc as a valid single-page PDF whose extracted text is
    EXACTLY the doc text, with the writer variant cycling by
    doc_id %% 6: (0) plain literal-string Tj, (1) FlateDecode content
    with the catalog/pages/page/font objects packed in an object
    stream (/Type /ObjStm — the modern-writer layout), (2) a TJ array
    of kerned chunks (extractor must concatenate across kerns), (3) an
    ASCIIHexDecode content filter, (4) LZWDecode — with TIFF
    horizontal differencing (/Predictor 2) on every other variant-4
    doc, (5) a two-stage filter array [/ASCIIHexDecode /FlateDecode]
    whose Flate stage carries PNG row predictors (/Predictor 12, all
    five filter types cycling by row; content space-padded to the row
    width — whitespace is token-neutral in content streams).
    Non-latin-1-safe text ships as a BOM-prefixed UTF-16BE hex string
    (the spec's text-string form). A classic xref table with correct
    offsets closes the file."""
    import zlib

    variant = did % 6
    use_utf16 = (not text.isascii()) or ("\r" in text)

    def show(s: str) -> bytes:
        if use_utf16:
            return (
                b"<"
                + (b"\xfe\xff" + s.encode("utf-16-be")).hex().encode()
                + b">"
            )
        esc = (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        )
        return b"(" + esc.encode("latin-1") + b")"

    if variant == 2 and not use_utf16:
        chunks = [text[i : i + 6] for i in range(0, len(text), 6)] or [""]
        shown = b"[" + b" -12 ".join(show(c) for c in chunks) + b"] TJ"
    else:
        shown = show(text) + b" Tj"
    content = b"BT /F1 12 Tf 72 720 Td " + shown + b" ET"

    if variant == 1:
        stream_data = zlib.compress(content)
        content_dict = (
            b"<< /Length " + str(len(stream_data)).encode()
            + b" /Filter /FlateDecode >>"
        )
    elif variant == 3:
        stream_data = content.hex().encode() + b">"
        content_dict = (
            b"<< /Length " + str(len(stream_data)).encode()
            + b" /Filter /ASCIIHexDecode >>"
        )
    elif variant == 4:
        if did % 2 == 0:
            cols = 16
            padded = content + b" " * (-len(content) % cols)
            diffed = bytearray()
            for r in range(0, len(padded), cols):
                row = padded[r : r + cols]
                diffed += bytes(
                    [(row[i] - (row[i - 1] if i else 0)) & 0xFF
                     for i in range(cols)]
                )
            stream_data = _lzw_encode_fixture(bytes(diffed))
            content_dict = (
                b"<< /Length " + str(len(stream_data)).encode()
                + b" /Filter /LZWDecode /DecodeParms "
                b"<< /Predictor 2 /Columns 16 >> >>"
            )
        else:
            stream_data = _lzw_encode_fixture(content)
            content_dict = (
                b"<< /Length " + str(len(stream_data)).encode()
                + b" /Filter /LZWDecode >>"
            )
    elif variant == 5:
        cols = 24
        padded = content + b" " * (-len(content) % cols)
        stream_data = (
            zlib.compress(_png_predict_fixture(padded, cols)).hex().encode()
            + b">"
        )
        content_dict = (
            b"<< /Length " + str(len(stream_data)).encode()
            + b" /Filter [/ASCIIHexDecode /FlateDecode] /DecodeParms "
            b"[null << /Predictor 12 /Columns 24 >>] >>"
        )
    else:
        stream_data = content
        content_dict = b"<< /Length " + str(len(stream_data)).encode() + b" >>"

    catalog = b"<< /Type /Catalog /Pages 2 0 R >>"
    pages = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    page = (
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>"
    )
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    # /Info document-information dictionary (r16): fields derive from
    # doc_id so the pdf_metadata oracle is pure arithmetic; every 5th
    # doc's Title ships as a BOM-prefixed UTF-16BE hex string, Subject
    # is present only on every 3rd doc (absent-field NULL path)
    def info_show(s: str) -> bytes:
        if s.isascii():
            esc = (
                s.replace("\\", "\\\\")
                .replace("(", "\\(")
                .replace(")", "\\)")
            )
            return b"(" + esc.encode("latin-1") + b")"
        return (
            b"<"
            + (b"\xfe\xff" + s.encode("utf-16-be")).hex().encode()
            + b">"
        )

    title = f"Résumé {did}" if did % 5 == 0 else f"Doc {did}"
    info_parts = [
        b"<< /Title ", info_show(title),
        b" /Author ", info_show(f"author-{did % 7}"),
    ]
    if did % 3 == 0:
        info_parts += [b" /Subject ", info_show(f"subject {did % 11}")]
    info_parts += [
        b" /Producer ", info_show(f"lotad {did % 4}"),
        b" /CreationDate (D:202601"
        + f"{did % 28 + 1:02d}".encode() + b"120000Z) >>",
    ]
    info = b"".join(info_parts)

    parts = [b"%PDF-1.5\n" if variant == 1 else b"%PDF-1.4\n"]
    offsets = {}

    def add(num: int, body: bytes) -> None:
        offsets[num] = sum(map(len, parts))
        parts.append(
            str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"
        )

    def add_stream(num: int, d: bytes, data: bytes) -> None:
        offsets[num] = sum(map(len, parts))
        parts.append(
            str(num).encode() + b" 0 obj\n" + d
            + b"\nstream\n" + data + b"\nendstream\nendobj\n"
        )

    if variant == 1:
        # objects 1/2/3/5 live inside object stream 6
        inner = [(1, catalog), (2, pages), (3, page), (5, font)]
        bodies, offs, pos = [], [], 0
        for _n, b in inner:
            offs.append(pos)
            bodies.append(b)
            pos += len(b) + 1
        header = " ".join(
            f"{n} {o}" for (n, _b), o in zip(inner, offs)
        ).encode() + b" "
        objstm_content = header + b" ".join(bodies)
        objstm_data = zlib.compress(objstm_content)
        add_stream(
            6,
            b"<< /Type /ObjStm /N 4 /First "
            + str(len(header)).encode()
            + b" /Length " + str(len(objstm_data)).encode()
            + b" /Filter /FlateDecode >>",
            objstm_data,
        )
        add_stream(4, content_dict, stream_data)
        add(7, info)
    else:
        add(1, catalog)
        add(2, pages)
        add(3, page)
        add_stream(4, content_dict, stream_data)
        add(5, font)
        add(7, info)

    max_num = max(offsets)
    xref_pos = sum(map(len, parts))
    xref = [b"xref\n", f"0 {max_num + 1}\n".encode(), b"0000000000 65535 f \n"]
    for num in range(1, max_num + 1):
        if num in offsets:
            xref.append(f"{offsets[num]:010d} 00000 n \n".encode())
        else:
            xref.append(b"0000000000 65535 f \n")
    trailer = (
        b"trailer\n<< /Size " + str(max_num + 1).encode()
        + b" /Root 1 0 R /Info 7 0 R >>\nstartxref\n"
        + str(xref_pos).encode() + b"\n%%EOF\n"
    )
    return b"".join(parts) + b"".join(xref) + trailer


def _doc_pdf_media(spark, sf_dir):
    """Each doc as a valid single-page PDF of its text — see
    :func:`_pdf_fixture` for the six writer variants (plain literal,
    FlateDecode + ObjStm, kerned TJ array, ASCIIHexDecode, LZWDecode
    with/without TIFF differencing, hex+Flate filter array with PNG
    row predictors) cycling by doc_id. Extracted text must round-trip
    exactly, so any defect in object scan, stream decode, predictor
    undo, page walk, string unescape, or text operators
    hash-mismatches the oracle."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            payloads = [
                _pdf_fixture(text or "", int(did))
                for did, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf.assign(content=payloads)[
                ["doc_id", "content"]
            ].rename(columns={"doc_id": "media_id"})

    return _spread(docs).mapInPandas(build, schema="media_id bigint, content binary")


def q_pdf_extract(spark, sf_dir):
    """PDF text extraction (pipeline/pdf.py — the zero-dep ISO 32000
    subset: linear object scan, ObjStm expansion, Flate/LZW/ASCIIHex/85
    filters, PNG + TIFF predictors, page-tree walk, BT/ET text
    operators, UTF-16BE text strings): the extracted text must equal
    the doc text byte-for-byte across all six writer variants, so the
    oracle is the identity projection over documents. Hand-built
    multi-page / escape / honest-None vectors pin the parser in
    tests/test_pdf.py."""
    from lotad_spark.pipeline.pdf import extract_pdf_text

    return extract_pdf_text(_doc_pdf_media(spark, sf_dir)).select(
        "media_id", "kind", "n_pages", "text"
    )


_PDF_EXTRACT_SQL = (
    "SELECT doc_id AS media_id, 'pdf' AS kind, CAST(1 AS INT) AS n_pages, "
    "coalesce(text, '') AS text FROM documents"
)


def q_pdf_metadata(spark, sf_dir):
    """PDF document-information extraction (pipeline/pdf.py
    extract_pdf_metadata — NEW r16): /Info located via classic
    trailers (last one wins; stream bodies excluded by extent, like
    object discovery) with the XRef-stream dict fallback, fields
    decoded per the text-string convention. The fixture writes
    doc_id-derived fields — UTF-16BE hex Title on every 5th doc,
    Subject absent on non-multiples of 3 (the NULL path) — so the
    oracle is pure arithmetic."""
    from lotad_spark.pipeline.pdf import extract_pdf_metadata

    return extract_pdf_metadata(_doc_pdf_media(spark, sf_dir)).select(
        "media_id", "kind", "title", "author", "subject", "producer",
        "creation_date",
    )


_PDF_METADATA_SQL = (
    "SELECT doc_id AS media_id, 'pdf' AS kind, "
    "CASE WHEN doc_id % 5 = 0 THEN 'Résumé ' ELSE 'Doc ' END "
    "|| CAST(doc_id AS VARCHAR) AS title, "
    "'author-' || CAST(doc_id % 7 AS VARCHAR) AS author, "
    "CASE WHEN doc_id % 3 = 0 THEN "
    "'subject ' || CAST(doc_id % 11 AS VARCHAR) END AS subject, "
    "'lotad ' || CAST(doc_id % 4 AS VARCHAR) AS producer, "
    "'D:202601' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') "
    "|| '120000Z' AS creation_date FROM documents"
)


_WEBP_LUMA_HIST_SQL = (
    "WITH base AS (SELECT doc_id AS media_id, doc_id % 5 AS cls, "
    "rpad(coalesce(text, ''), "
    "CAST((doc_id % 6 + 3) * (doc_id % 4 + 2) AS INT), 'x') AS px, "
    "CAST((doc_id % 6 + 3) * (doc_id % 4 + 2) AS INT) AS nb "
    "FROM documents), "
    "g AS (SELECT media_id, list_transform(range(0, nb), "
    "i -> CASE WHEN cls = 4 THEN (ord(substr(px, i + 1, 1)) % 4) * 85 "
    "ELSE ord(substr(px, i + 1, 1)) END) AS grays FROM base) "
    "SELECT media_id, 'luma' AS kind, "
    "array_to_string(list_transform(range(0, 16), b -> "
    "CAST(len(list_filter(grays, v -> v * 16 // 256 = b)) "
    "AS VARCHAR)), ',') AS hist FROM g"
)


def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier
    (pipeline/quality.py, Joulin et al. 2016): logistic regression over
    hashed unigram+bigram buckets, trained driver-side on the bounded
    id-ordered 512-doc sample (label = lang 'en'; RNG-free full-batch
    GD, bit-reproducible), scoring the corpus with decimal-exact
    micro-unit logits. The oracle retrains the IDENTICAL trainer on the
    same sample read via DuckDB, embeds the nonzero weights as
    DECIMAL(18,6) literals, and replays featurization + the HALF_UP
    integer mean in SQL. The sigmoid 'score' column is excluded (libm
    exp — the one non-reproducible op); pred needs only the sign."""
    from lotad_spark.pipeline.quality import (
        score_quality_classifier,
        train_quality_classifier_sampled,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "_y", (F.col("lang") == "en").cast("int")
    )
    w, b = train_quality_classifier_sampled(labeled, "_y")
    return score_quality_classifier(docs, w, b).select(
        "doc_id", "n_grams", "logit", "pred"
    )


def _quality_classifier_sql() -> str:
    """Oracle: retrain the deterministic classifier on the same sample
    (the kmeans literal pattern), then replay hashed featurization
    (the dsir CTE idiom), the exact decimal weighted sum, and the
    HALF_UP micro-unit mean in SQL."""
    import duckdb

    from lotad_spark.pipeline.quality import (
        _round6,
        train_quality_classifier,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    rows = duckdb.connect().execute(
        f"SELECT text, CAST(lang = 'en' AS INT) "
        f"FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id ASC LIMIT 512"
    ).fetchall()
    w, b = train_quality_classifier([(t, int(y)) for t, y in rows])
    wt_vals = ", ".join(
        f"({i}, {_round6(x):.6f})"
        for i, x in enumerate(w)
        if _round6(x) != 0.0
    )
    bias_micro = int(round(_round6(b) * 1_000_000))
    return (
        "WITH base AS (SELECT doc_id, "
        "list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        "x -> x <> '') AS w FROM documents WHERE text IS NOT NULL), "
        "grams AS (SELECT doc_id, "
        "unnest(list_concat(w, list_transform(range(1, len(w)), "
        "i -> w[i] || ' ' || w[i + 1]))) AS g FROM base), "
        "feat AS (SELECT doc_id, "
        "CAST(CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT) % 4096 "
        "AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS tf "
        "FROM grams GROUP BY ALL), "
        f"wt(bucket, w) AS (VALUES {wt_vals}), "
        "agg AS (SELECT f.doc_id, "
        "CAST(sum(f.tf) AS BIGINT) AS n_grams, "
        "COALESCE(sum(f.tf * wt.w), 0.000000) AS sw "
        "FROM feat f LEFT JOIN wt USING (bucket) GROUP BY f.doc_id), "
        "m AS (SELECT doc_id, n_grams, "
        "CAST(sw * 1000000 AS BIGINT) AS sm FROM agg), "
        "lg AS (SELECT doc_id, n_grams, "
        "CAST((CASE WHEN sm < 0 THEN "
        "-((2 * (-sm) + n_grams) // (2 * n_grams)) "
        "ELSE (2 * sm + n_grams) // (2 * n_grams) END) "
        f"+ {bias_micro} AS DOUBLE) / 1000000.0 AS logit FROM m) "
        "SELECT doc_id, n_grams, logit, logit > 0 AS pred FROM lg"
    )


def q_prototypicality_prune(spark, sf_dir):
    """SSL-prototypes pruning (pipeline/similarity.py
    prototypicality_prune, Sorscher et al. 2022): deterministic k-means
    clusters the embeddings, each vector scores round-6 cosine to its
    centroid, and the most prototypical half of each cluster is marked
    for pruning (exact integer micro-unit drop count, ties proto DESC
    id ASC). The oracle retrains the RNG-free k-means and embeds the
    centroids as literals (the _ann_ivf_sql pattern), then replays
    assignment, ranking, and the cut line."""
    from lotad_spark.pipeline import prototypicality_prune_corpus

    return prototypicality_prune_corpus(
        _t(spark, sf_dir, "embeddings"), n_clusters=16, prune_frac=0.5
    )


def q_heavy_hitters(spark, sf_dir):
    """EXACT phi-heavy hitters with candidate-only shuffles
    (pipeline/sketch.py heavy_hitters; Misra-Gries 1982 per partition
    + mergeable-summaries batch rule + broadcast exact verification —
    the vocabulary never shuffles). The corpus is augmented with a
    per-doc singleton token (u<doc_id>) and a mid-frequency family
    (m<doc_id%37>, ~1/37 share each) so the ceil(phi*N) threshold has
    real negatives on both sides; phi=0.005 keeps the ~31 common
    corpus tokens and excludes everything synthesized. Output is
    exact integer counts (no float share — engine-boundary
    discipline), so the oracle is plain GROUP BY/HAVING; MG only
    PRUNES, making the result partitioning-independent (pinned with a
    brute-force reference in tests/test_sketch.py)."""
    from lotad_spark.pipeline import heavy_hitters

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "coalesce(text, '') || ' u' || CAST(doc_id AS STRING) || "
        "' m' || CAST(doc_id % 37 AS STRING) AS text",
    )
    return heavy_hitters(docs, phi=0.005)


_HEAVY_HITTERS_SQL = (
    "WITH aug AS (SELECT doc_id, coalesce(text, '') || ' u' || "
    "CAST(doc_id AS VARCHAR) || ' m' || CAST(doc_id % 37 AS VARCHAR) "
    "AS text FROM documents), "
    "tok AS (SELECT unnest(list_filter(string_split_regex("
    "trim(lower(text)), '\\s+'), x -> x <> '')) AS token FROM aug), "
    "tot AS (SELECT count(*) AS n FROM tok) "
    "SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences, "
    "CAST(tot.n AS BIGINT) AS n_tokens_total "
    "FROM tok, tot GROUP BY token, tot.n "
    "HAVING count(*) >= ceil(0.005 * tot.n)"
)


def q_cms_term_counts(spark, sf_dir):
    """Count-min sketch (pipeline/sketch.py, Cormode & Muthukrishnan
    2005): sketch the corpus token stream into the 4x1024 counter grid,
    then estimate the exact top-20 terms and emit (term, exact_cnt,
    est, no_undercount). The md5 bucket hashing and integer counters
    replay exactly in SQL, so the driver value-checks the ENTIRE sketch
    — build, probe, and the never-undercount guarantee — not just a
    bound."""
    from lotad_spark.pipeline import cms_build, cms_estimate
    from lotad_spark.pipeline.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                lambda w: w != "",
            )
        ).alias("term")
    )
    cand = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(20)
    )
    est = cms_estimate(cms_build(docs), cand.select("term"))
    return cand.join(est, "term").select(
        "term",
        "exact_cnt",
        "est",
        (F.col("est") >= F.col("exact_cnt")).alias("no_undercount"),
    )


def q_bloom_membership(spark, sf_dir):
    """Bloom filter (pipeline/sketch.py, Bloom 1970): build the 8192-bit
    token-membership filter, probe the exact top-10 corpus terms (all
    in-stream) plus 10 constructed absent terms, and emit (term,
    present, in_stream, no_false_negative). The bit packing (32 bits
    per bigint word, bit_or aggregation) and the all-positions-set
    check replay exactly in SQL, so the driver value-checks the whole
    filter INCLUDING the no-false-negative guarantee; the absent terms'
    present flags are the deterministic collision pattern, also
    replayed exactly."""
    from lotad_spark.pipeline import bloom_build, bloom_contains
    from lotad_spark.pipeline.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                lambda w: w != "",
            )
        ).alias("term")
    )
    present = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("term"))
        .limit(10)
        .select("term", F.lit(True).alias("in_stream"))
    )
    absent = bounded_local_df(spark, 
        [(f"notaword{i}",) for i in range(10)], "term string"
    ).select("term", F.lit(False).alias("in_stream"))
    probe = present.unionByName(absent)
    out = bloom_contains(bloom_build(docs), probe.select("term"))
    return probe.join(out, "term").select(
        "term",
        "present",
        "in_stream",
        (~F.col("in_stream") | F.col("present")).alias(
            "no_false_negative"
        ),
    )


def q_text_normalize(spark, sf_dir):
    """CCNet-style normalization (pipeline/text.py normalize_text):
    the synthetic corpus is already clean ASCII, so the fixture INJECTS
    deterministic byte noise first — doubled spaces, leading pad, a
    trailing tab + CRLF + BEL + 'x' — and the operator must undo it
    (CR folding, control strip, whitespace collapse, blank-line cap,
    trim). The oracle builds the identical noisy input with chr() and
    replays the five regexp_replace steps with the 'g' flag, so text
    and n_chars_removed are value-checked byte-for-byte."""
    from lotad_spark.pipeline import normalize_text

    t = F.coalesce(F.col("text"), F.lit(""))
    noisy = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("  "),
            F.regexp_replace(t, " ", "  "),
            # \x07 = BEL, exercised by the control-strip step; kept
            # as an ESCAPE (a raw control byte here is invisible in review)
            F.lit("\t\r\n\x07x"),
        ).alias("text"),
    )
    return normalize_text(noisy)


def q_bpe_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (pipeline/bpe.py bpe_fertility):
    train the 8-merge table, tokenize every word with the shared
    replace chain, and aggregate tokens-per-word / chars-per-token per
    language — the standard tokenizer-evaluation stat a multilingual
    pipeline checks before committing to a vocab. Counts are exact
    integers; ratios use the micro-unit convention; the oracle replays
    training + the per-word replace chain + the aggregation."""
    from lotad_spark.pipeline import bpe_fertility
    from lotad_spark.pipeline.bpe import train_bpe

    d = _t(spark, sf_dir, "documents")
    merge_rows = (
        train_bpe(d.select("doc_id", "text"), num_merges=8)
        .orderBy("rank")
        .collect()
    )
    merges = [(r.left, r.right) for r in merge_rows]
    return bpe_fertility(d, merges)


def q_contamination_bloom(spark, sf_dir):
    """The Bloom-PREFILTERED decontamination path (pipeline/sketch.py
    bloom_prefilter composed by contamination_pairs): the eval shingle
    set packs into a broadcast bitmap, corpus shingles that cannot
    match drop inside the scan stage, and the exact containment join
    runs on the survivors. A Bloom filter has no false negatives, so
    the output is IDENTICAL to the exact path BY CONSTRUCTION — the
    oracle is therefore the exact containment SQL (until the r13
    consolidation also the contamination_check row, retired because
    this row runs a strict superset: prefilter + the same exact join;
    the unfiltered arm stays pytest-pinned), and a hash match proves
    the scale path loses nothing. prefilter_bits=4096 is deliberately tight at this scale
    to force real false positives through the exact join."""
    from lotad_spark.pipeline import contamination_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return contamination_pairs(
        docs,
        _eval_snippets(spark, sf_dir),
        threshold=0.5,
        prefilter="bloom",
        prefilter_bits=4096,
    ).select(
        "train_id", "eval_id", F.round("containment", 6).alias("containment")
    )


def _embedding_dup_corpus(spark, sf_dir):
    """embeddings ∪ scaled copies (x1.0001, cosine exactly 1) of every
    20th vector."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (
        e.filter(F.col("vec_id") % 20 == 0)
        .withColumn("vec_id", F.col("vec_id") + 200000)
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: (x * F.lit(1.0001)).cast("float"),
            ),
        )
    )
    return e.withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    ).unionByName(copies)


def q_dedup_embedding(spark, sf_dir):
    from lotad_spark.pipeline.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _embedding_dup_corpus(spark, sf_dir), threshold=0.99
    )


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup (pipeline/similarity.py
    semantic_dedup_corpus): deterministic spherical k-means clusters the
    shared scaled-copy corpus, then within-cluster cosine >= 0.99 marks
    the planted copies (the min id of each similar set survives). The
    oracle retrains the RNG-free k-means on the same id-ordered sample
    and embeds the centroids as literals (the _ann_ivf_sql pattern)."""
    from lotad_spark.pipeline.similarity import semantic_dedup_corpus

    return semantic_dedup_corpus(
        _embedding_dup_corpus(spark, sf_dir), n_clusters=8, threshold=0.99
    )


def q_streaming_dedup_batch(spark, sf_dir):
    """Batch face of streaming_dedup (streaming/windowed.py) — the SAME
    call `readStream` runs (watermarked dropDuplicates; stream≡batch is
    pytest-pinned with real readStream soaks in
    test_streaming_multimodal). Fixture models at-least-once delivery:
    every event arrives twice, byte-identical, so first-occurrence-wins
    is deterministic and each event must come back exactly once."""
    from lotad_spark.streaming import streaming_dedup

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return streaming_dedup(ev.unionByName(ev), ["event_id"], ts_col="ts")


def q_frame_sample_plan(spark, sf_dir):
    """Video frame-sampling plumbing (pipeline/multimodal.py
    frame_sample_plan): every doc becomes an opaque binary payload of
    deterministic length (doc_id-derived), the stub frame counter
    derives one frame per 100 bytes, and the plan explodes every 10th
    frame index — the real decoder swaps into the kernel; the explode
    shape, schema, and stride are the oracle-checked contract."""
    from lotad_spark.pipeline.multimodal import frame_sample_plan

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.repeat(
                F.lit("x"), (F.col("doc_id") % 97 * 37 + 50).cast("int")
            ),
            "utf-8",
        ).alias("content"),
    )
    return frame_sample_plan(media, every_nth=10)


_EMB_DUP_CORPUS_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 200000,
        list_transform(embedding::DOUBLE[],
                       x -> CAST(CAST(x * 1.0001 AS FLOAT) AS DOUBLE))
    FROM embeddings WHERE vec_id % 20 = 0
"""


def _dedup_semantic_sql() -> str:
    """Generated oracle for dedup_semantic: retrain the deterministic
    k-means (pipeline/kmeans.py — RNG-free init + fixed Lloyd rounds) on
    the SAME id-ordered 512-row sample of the scaled-copy corpus, read
    via DuckDB, and embed the bit-identical centroids as SQL literals;
    assignment / pairwise CTEs mirror semantic_dedup exactly (round-6
    cosine, cent_id-asc tie-break, smaller-id neighbor max)."""
    import duckdb

    from lotad_spark.pipeline import kmeans

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    corpus_sql = _EMB_DUP_CORPUS_SQL.replace(
        "FROM embeddings",
        f"FROM '{sf_dir}/embeddings.parquet'",
    )
    sample = duckdb.connect().execute(
        f"SELECT v FROM ({corpus_sql}) ORDER BY vec_id ASC "
        f"LIMIT {kmeans.DEFAULT_SAMPLE_SIZE}"
    ).fetchall()
    cents = kmeans.train_centroids([list(r[0]) for r in sample], 8)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH corpus AS ({_EMB_DUP_CORPUS_SQL}),
cent(cent_id, cv) AS (VALUES {values}),
assigned AS (
    SELECT vec_id, v, cent_id FROM (
        SELECT c.vec_id, c.v, k.cent_id,
            row_number() OVER (PARTITION BY c.vec_id ORDER BY
                round(list_cosine_similarity(c.v, k.cv), 6) DESC,
                k.cent_id ASC) AS r
        FROM corpus c, cent k
    ) WHERE r = 1
),
nn AS (
    SELECT a.vec_id,
        max(round(list_cosine_similarity(a.v, b.v), 6)) AS nn_sim
    FROM assigned a JOIN assigned b USING (cent_id)
    WHERE b.vec_id < a.vec_id
    GROUP BY a.vec_id
)
SELECT a.vec_id, a.cent_id, nn.nn_sim,
    coalesce(nn.nn_sim >= 0.99, false) AS is_dup
FROM assigned a LEFT JOIN nn ON nn.vec_id = a.vec_id
"""


def q_custom_query_diff(spark, sf_dir):
    """Custom query replaces the scan on both sides (Q1-Q3): project two
    columns, diff the projections."""
    from lotad_spark.operators.custom_query import custom_query_frame
    from lotad_spark.sources.memory import DictDatabase

    db1 = DictDatabase({"customer": _t(spark, sf_dir, "customer")}, "db1")
    db2 = DictDatabase(
        {"customer": _customer_value_change(spark, sf_dir)}, "db2"
    )
    query = "SELECT c_custkey, c_acctbal FROM customer;"
    f1 = custom_query_frame(spark, db1, query, view_prefix="_cq_db1")
    f2 = custom_query_frame(spark, db2, query, view_prefix="_cq_db2")
    r = diff_tables(f1, f2, db1_id="db1", db2_id="db2")
    return r.diff.drop(HASH_COL)


def q_ann_cosine_topk(spark, sf_dir):
    from lotad_spark.pipeline.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e.filter(F.col("vec_id") < 5), e, k=5)


def q_ann_ivf_topk(spark, sf_dir):
    from lotad_spark.pipeline.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < 5), e, k=5)




def q_ann_ivfpq_topk(spark, sf_dir):
    """The full IVF-PQ serving path driver-checked end-to-end: build the
    write-once index (coarse spherical-k-means partitions + per-subspace
    PQ codes — codes-only parquet partitioned by cent_id), then ADC
    top-k with a STATIC partition filter over the probed buckets. The
    deterministic expr kernels run here so the oracle can replay every
    stage (coarse assignment, encode argmax, probe ranking, integer-LUT
    scoring) from retrained bit-identical literals; production uses the
    arrow kernels (default), parity pinned in tests/test_pq.py."""
    from lotad_spark.pipeline.pq import build_ivf_pq_index, ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    root = _scratch("lotad_ivfpq_")
    build_ivf_pq_index(
        e, root, assign_kernel="expr", encode_kernel="expr"
    )
    return ivf_pq_topk(
        spark, root, e.filter(F.col("vec_id") < 5), k=5, nprobe=2
    )


def q_ann_ivfpq_residual_topk(spark, sf_dir):
    """The IVFADC serving path (residual=True IVF-PQ, Jegou et al. 2011
    §III) driver-checked end-to-end: PQ codes quantize the residual
    v − a(v) against the cluster-MEAN anchor; the probe reconstructs
    through the anchor with scaled-integer per-(query,cluster) and
    per-cluster terms, so every sum stays exact and order-independent.
    The expr kernels run here so the oracle can replay each stage
    (coarse assignment, residual projection, encode argmax, probe
    ranking, integer-LUT scoring with the anchor cross-terms) from
    retrained bit-identical literals; production defaults to the arrow
    kernels, parity pinned in tests/test_pq.py."""
    from lotad_spark.pipeline.pq import build_ivf_pq_index, ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    root = _scratch("lotad_ivfpq_res_")
    build_ivf_pq_index(
        e, root, assign_kernel="expr", encode_kernel="expr", residual=True
    )
    return ivf_pq_topk(
        spark, root, e.filter(F.col("vec_id") < 5), k=5, nprobe=2
    )


def q_ann_sq8_topk(spark, sf_dir):
    """The IVF-SQ8 serving path (int8 scalar quantization — the middle
    rung of the ANN ladder between raw-vector IVF and IVF-PQ): build the
    partitioned index of per-vector (scale, zero_point, qvec, Σq, Σq²)
    rows, then probe with the algebraically-expanded dequantized cosine
    ⟨q,v̂⟩ = zero·Σqᵤ + scale·⟨qᵤ,qv⟩ under a STATIC partition filter.
    Quantization is already value-oracled via quantize_embeddings; this
    row drives the full index build + scoring chain. The expr assignment
    kernel runs here for oracle parity; production defaults to arrow."""
    from lotad_spark.pipeline.similarity import (
        build_ivf_sq8_index,
        ivf_sq8_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    root = _scratch("lotad_sq8_")
    build_ivf_sq8_index(e, root, kernel="expr")
    return ivf_sq8_topk(
        spark, root, e.filter(F.col("vec_id") < 5), k=5, nprobe=2
    )


def q_ann_pq_topk(spark, sf_dir):
    """ADC top-k over the PQ-encoded corpus: sim is the round-6 cosine
    between the query and each vector's PQ reconstruction, computed
    entirely from INTEGER-quantized lookup tables (round(10⁶·x) as
    int64 — order-independent exact sums, so the one cross-engine
    floating-point hazard, summation order, is designed out; the oracle
    sums the identical integer literals in SQL)."""
    from lotad_spark.pipeline.pq import pq_topk, train_pq_codebooks

    e = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e)
    return pq_topk(e.filter(F.col("vec_id") < 5), e, books, k=5)


# ---------------------------------------------------------------------------
# Oracle SQL fragments for the pipeline queries (DuckDB dialect)
# ---------------------------------------------------------------------------

_ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
    SELECT query_id, vec_id, round(list_cosine_similarity(qv, cv), 6) AS sim
    FROM q, c WHERE vec_id != query_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS r
    FROM scored
)
SELECT query_id, vec_id, sim FROM ranked WHERE r <= 5
"""

def _oracle_embedding_sample(
    sf_dir: str, limit: int | None = None
) -> list[list[float]]:
    """The id-ordered bounded embeddings sample every centroid/codebook
    oracle trains on — cached per (sf_dir, limit) (six builders
    otherwise re-read the same parquet rows; r11 review finding).
    ``limit`` defaults to ``kmeans.DEFAULT_SAMPLE_SIZE`` (the
    train_pq_codebooks default); coarse-centroid trainers pass the
    k-scaled ``kmeans.default_sample_size(k)``. Returns fresh lists so
    callers can't mutate the cache."""
    import duckdb

    from lotad_spark.pipeline import kmeans

    limit = limit or kmeans.DEFAULT_SAMPLE_SIZE
    key = (sf_dir, limit)
    cached = _ORACLE_SAMPLE_CACHE.get(key)
    if cached is None:
        rows = duckdb.connect().execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id ASC LIMIT {limit}"
        ).fetchall()
        cached = tuple(tuple(float(x) for x in r[0]) for r in rows)
        _ORACLE_SAMPLE_CACHE[key] = cached
    return [list(v) for v in cached]


_ORACLE_SAMPLE_CACHE: dict = {}
_ORACLE_CENTROID_CACHE: dict = {}
_PQ_BOOKS_CACHE: dict = {}
_ORACLE_RULE_K_CACHE: dict = {}


def _oracle_rule_k(sf_dir: str) -> int:
    """The cluster-size rule the IVF-family builds now default to
    (`kmeans.default_n_centroids`, max(8, n/250)) derived the oracle
    way: COUNT(*) over the same embeddings parquet via DuckDB. A plain
    integer function of the row count, so the Spark side (which counts
    through its own scan) lands on the identical k."""
    from lotad_spark.pipeline import kmeans

    cached = _ORACLE_RULE_K_CACHE.get(sf_dir)
    if cached is None:
        import duckdb

        n = duckdb.connect().execute(
            f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        cached = kmeans.default_n_centroids(int(n))
        _ORACLE_RULE_K_CACHE[sf_dir] = cached
    return cached


def _oracle_centroids(sf_dir: str, k: int) -> list[list[float]]:
    """Deterministic k-means centroids for the oracle builders — cached:
    five builders train the IDENTICAL RNG-free constants (r11 review
    finding: oracle_sql() paid ~5× coarse-training CPU for nothing).
    The sample limit follows `kmeans.default_sample_size(k)` exactly
    like the Spark-side builds, so a rule-derived k past 32 (corpus >
    128k vectors) widens both engines' training sample identically."""
    from lotad_spark.pipeline import kmeans

    key = (sf_dir, k)
    cached = _ORACLE_CENTROID_CACHE.get(key)
    if cached is None:
        cached = tuple(
            tuple(c)
            for c in kmeans.train_centroids(
                _oracle_embedding_sample(
                    sf_dir, kmeans.default_sample_size(k)
                ),
                k,
            )
        )
        _ORACLE_CENTROID_CACHE[key] = cached
    return [list(c) for c in cached]


def _centroid_values_sql(sf_dir: str, k: int = 16) -> str:
    """The shared VALUES literal (repr of a double round-trips exactly
    through DuckDB's parser)."""
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(_oracle_centroids(sf_dir, k))
    )


def _ann_ivf_sql() -> str:
    """IVF oracle with k-means centroids embedded as literals.

    The SAME deterministic trainer (`pipeline.kmeans.train_centroids`)
    runs here on the sample read via DuckDB; because init and iteration
    are RNG-free, the constants match the Spark side bit-for-bit.
    The driver evaluates oracles at sf0.01; override with
    $SPARK_GRAFT_ORACLE_SF_DIR when checking another scale locally.
    """
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    return _ANN_IVF_SQL_TEMPLATE.replace(
        "__CENTROID_VALUES__",
        _centroid_values_sql(sf_dir, _oracle_rule_k(sf_dir)),
    )


def _proto_prune_sql() -> str:
    """SSL-prototypes oracle: the SAME deterministic k-means trainer as
    the Spark side (RNG-free — bit-identical centroid literals), then
    assignment (round-6 cosine argmax, ties to the lowest cent_id),
    per-cluster prototypicality rank (proto DESC, vec_id ASC), and the
    exact integer micro-unit cut line n * 500000 // 10⁶."""
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    values = _centroid_values_sql(sf_dir, 16)
    return (
        f"WITH cent(cent_id, cv) AS (VALUES {values}), "
        "assigned AS (SELECT vec_id, cent_id, s AS proto FROM ("
        "SELECT e.vec_id, c.cent_id, "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) "
        "AS s, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings e, cent c) "
        "WHERE r = 1), "
        "ranked AS (SELECT vec_id, cent_id, proto, "
        "row_number() OVER (PARTITION BY cent_id ORDER BY proto DESC, "
        "vec_id ASC) AS rr, "
        "count(*) OVER (PARTITION BY cent_id) AS n FROM assigned) "
        "SELECT vec_id, CAST(cent_id AS INT) AS cent_id, proto, "
        "rr > (n * 500000) // 1000000 AS keep FROM ranked"
    )


def _pq_oracle_parts(
    sample_limit: int | None = None,
) -> tuple[str, "object"]:
    """Shared PQ oracle scaffolding: the codebook VALUES + encode CTE
    (replaying pq_encode's round-6 argmax with ties to the lowest code)
    and the trained codebooks. Trains the SAME deterministic L2 Lloyd's
    (`pipeline.pq.train_pq_codebooks`) on the sample read via DuckDB —
    RNG-free, so the literals match the Spark side bit-for-bit.
    Cached per (sf_dir, sample_limit): three oracle builders need the
    identical books (r11 review finding). ``sample_limit`` defaults to
    the `train_pq_codebooks` sample (pq_codes / ann_pq_topk); the
    IVF-PQ oracle passes the build's k-scaled sample, since
    `build_ivf_pq_index` trains its books on the SAME sample as its
    coarse centroids."""
    from lotad_spark.pipeline import kmeans, pq

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    sample = _oracle_embedding_sample(sf_dir, sample_limit)
    dim = len(sample[0])
    m, sub = pq.DEFAULT_M, dim // pq.DEFAULT_M
    key = (sf_dir, sample_limit or kmeans.DEFAULT_SAMPLE_SIZE)
    cached = _PQ_BOOKS_CACHE.get(key)
    if cached is None:
        cached = [
            pq._train_l2(
                [v[j * sub : (j + 1) * sub] for v in sample],
                pq.DEFAULT_CODES,
                kmeans.DEFAULT_ITERS,
            )
            for j in range(m)
        ]
        _PQ_BOOKS_CACHE[key] = cached
    books = cached
    cb_values = ", ".join(
        f"({j}, {c}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[], "
        f"{pq.self_dot(cv)!r})"
        for j, book in enumerate(books)
        for c, cv in enumerate(book)
    )
    encode_cte = (
        f"cb(m, code, cv, dcc) AS (VALUES {cb_values}), "
        "scored AS (SELECT e.vec_id, cb.m, cb.code, "
        "round(2*list_inner_product((e.embedding::DOUBLE[])"
        f"[(cb.m*{sub}+1):((cb.m+1)*{sub})], cb.cv) - cb.dcc, 6) AS s "
        "FROM embeddings e, cb), "
        "enc AS (SELECT vec_id, m, code FROM ("
        "SELECT vec_id, m, code, row_number() OVER ("
        "PARTITION BY vec_id, m ORDER BY s DESC, code ASC) AS r "
        "FROM scored) WHERE r = 1)"
    )
    return encode_cte, books




def _pq_lut_cte(books) -> str:
    """The ADC lookup-table CTEs shared by the PQ oracles: integer
    lookup tables as list literals (one row per (query, subspace)), so
    both engines sum the IDENTICAL int64 constants — order-independent,
    exact — plus the query self-dots."""
    import duckdb

    from lotad_spark.pipeline import pq

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    qrows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    lut_rows, q2_rows = [], []
    for qid, emb in qrows:
        luts, q2 = pq._quantized_luts(list(emb), books)
        q2_rows.append(f"({qid}, {q2!r})")
        for j, row in enumerate(luts):
            lut_rows.append(
                f"({qid}, {j}, [{', '.join(str(x) for x in row)}])"
            )
    dcc_rows = [
        f"({j}, [{', '.join(str(x) for x in row)}])"
        for j, row in enumerate(pq.pq_dcc_lut(books))
    ]
    return (
        f"lut(query_id, m, lr) AS (VALUES {', '.join(lut_rows)}), "
        f"dccq(m, vr) AS (VALUES {', '.join(dcc_rows)}), "
        f"q2(query_id, q2) AS (VALUES {', '.join(q2_rows)})"
    )


def _pq_sims_select(scale: float) -> str:
    """The shared ADC scoring tail: integer sums → cosine to the
    reconstruction → round-6 → per-query top-5 (ties to the lowest
    vec_id, mirroring _ranked_topk)."""
    return (
        "sims AS (SELECT s.query_id, s.vec_id, "
        f"round((CAST(ip AS DOUBLE)/{scale!r})"
        f"/sqrt(q.q2*(CAST(vn AS DOUBLE)/{scale!r})), 6) AS sim "
        "FROM sums s JOIN q2 q USING (query_id) "
        "WHERE s.vec_id != s.query_id) "
        "SELECT query_id, vec_id, sim FROM ("
        "SELECT query_id, vec_id, sim, row_number() OVER ("
        "PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS r "
        "FROM sims) WHERE r <= 5"
    )


def _ann_pq_sql() -> str:
    """ADC top-k oracle over the full corpus (see _pq_lut_cte for the
    exact-integer design)."""
    from lotad_spark.pipeline import pq

    encode_cte, books = _pq_oracle_parts()
    scale = float(pq.LUT_SCALE)
    return (
        f"WITH {encode_cte}, "
        f"{_pq_lut_cte(books)}, "
        "sums AS (SELECT l.query_id, e.vec_id, "
        "SUM(l.lr[e.code + 1]) AS ip, SUM(d.vr[e.code + 1]) AS vn "
        "FROM enc e JOIN lut l ON l.m = e.m "
        "JOIN dccq d ON d.m = e.m GROUP BY 1, 2), "
        + _pq_sims_select(scale)
    )


def _ann_ivfpq_sql() -> str:
    """Full IVF-PQ oracle: coarse spherical-k-means assignment (the
    _ann_ivf_sql trainer, bit-identical literals), per-query top-nprobe
    probe ranking, PQ encode replay, and integer-LUT ADC scoring
    restricted to each query's probed buckets — every stage of
    q_ann_ivfpq_topk's expr-kernel path replayed in SQL."""
    from lotad_spark.pipeline import pq

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    from lotad_spark.pipeline import kmeans

    rule_k = _oracle_rule_k(sf_dir)
    cent_values = _centroid_values_sql(sf_dir, rule_k)
    encode_cte, books = _pq_oracle_parts(
        kmeans.default_sample_size(rule_k)
    )
    scale = float(pq.LUT_SCALE)
    return (
        f"WITH cent(cent_id, ccv) AS (VALUES {cent_values}), "
        "assigned AS (SELECT vec_id, cent_id FROM ("
        "SELECT e.vec_id, c.cent_id, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings e, cent c) "
        "WHERE r = 1), "
        "probes AS (SELECT query_id, cent_id FROM ("
        "SELECT qe.vec_id AS query_id, c.cent_id, row_number() OVER ("
        "PARTITION BY qe.vec_id ORDER BY "
        "round(list_cosine_similarity(qe.embedding::DOUBLE[], c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings qe, cent c "
        "WHERE qe.vec_id < 5) WHERE r <= 2), "
        f"{encode_cte}, "
        f"{_pq_lut_cte(books)}, "
        "sums AS (SELECT p.query_id, a.vec_id, "
        "SUM(l.lr[e2.code + 1]) AS ip, SUM(d.vr[e2.code + 1]) AS vn "
        "FROM probes p JOIN assigned a ON a.cent_id = p.cent_id "
        "JOIN enc e2 ON e2.vec_id = a.vec_id "
        "JOIN lut l ON l.query_id = p.query_id AND l.m = e2.m "
        "JOIN dccq d ON d.m = e2.m GROUP BY 1, 2), "
        + _pq_sims_select(scale)
    )


def _ann_ivfpq_residual_sql() -> str:
    """IVFADC oracle: the residual IVF-PQ path replayed stage by stage.
    Coarse assignment and probe ranking reuse the _ann_ivfpq_sql shapes;
    the residual projection (v − anchor) is an element-wise indexed
    list_transform against the anchor literals (bit-exact — both engines
    subtract identical doubles); the encode argmax runs over the
    RESIDUAL codebooks retrained by the shared
    ``pq.train_residual_models`` (bit-identical literals by
    construction); and the ADC scoring adds the anchor terms — ⟨q,a⟩
    per (query, probed cluster), |a|² and the ⟨a, book⟩ cross-term
    table per cluster — as the same scaled-integer literals the Spark
    side broadcasts, so every sum is exact and order-independent."""
    import duckdb
    import numpy as np

    from lotad_spark.pipeline import kmeans, pq

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    rule_k = _oracle_rule_k(sf_dir)
    # The build trains anchors/books on the SAME k-scaled sample as
    # its coarse centroids — mirror that here.
    sample = _oracle_embedding_sample(
        sf_dir, kmeans.default_sample_size(rule_k)
    )
    cents = _oracle_centroids(sf_dir, rule_k)
    anchors, books = pq.train_residual_models(sample, cents)
    sub = len(books[0][0])
    scale = float(pq.LUT_SCALE)
    cent_values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    anchor_values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in a)}]::DOUBLE[])"
        for i, a in enumerate(anchors)
    )
    cb_values = ", ".join(
        f"({j}, {c}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[], "
        f"{pq.self_dot(cv)!r})"
        for j, book in enumerate(books)
        for c, cv in enumerate(book)
    )
    qrows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()
    qc_values = ", ".join(
        f"({qid}, {cid}, "
        f"{int(np.round(pq.fold_dot(list(emb), a) * pq.LUT_SCALE))})"
        for qid, emb in qrows
        for cid, a in enumerate(anchors)
    )
    csd_values = ", ".join(
        f"({cid}, {j}, [{', '.join(str(int(np.round(pq.fold_dot(a[j * sub:(j + 1) * sub], cv) * pq.LUT_SCALE))) for cv in book)}])"
        for cid, a in enumerate(anchors)
        for j, book in enumerate(books)
    )
    c2_values = ", ".join(
        f"({cid}, {int(np.round(pq.self_dot(a) * pq.LUT_SCALE))})"
        for cid, a in enumerate(anchors)
    )
    return (
        f"WITH cent(cent_id, ccv) AS (VALUES {cent_values}), "
        f"anch(cent_id, av) AS (VALUES {anchor_values}), "
        "assigned AS (SELECT vec_id, cent_id FROM ("
        "SELECT e.vec_id, c.cent_id, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings e, cent c) "
        "WHERE r = 1), "
        "probes AS (SELECT query_id, cent_id FROM ("
        "SELECT qe.vec_id AS query_id, c.cent_id, row_number() OVER ("
        "PARTITION BY qe.vec_id ORDER BY "
        "round(list_cosine_similarity(qe.embedding::DOUBLE[], c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings qe, cent c "
        "WHERE qe.vec_id < 5) WHERE r <= 2), "
        "resid AS (SELECT e.vec_id, a.cent_id, "
        "list_transform(e.embedding::DOUBLE[], (x, i) -> x - an.av[i]) "
        "AS rv FROM embeddings e JOIN assigned a USING (vec_id) "
        "JOIN anch an USING (cent_id)), "
        f"cb(m, code, cv, dcc) AS (VALUES {cb_values}), "
        "scored_enc AS (SELECT r.vec_id, cb.m, cb.code, "
        f"round(2*list_inner_product(r.rv[(cb.m*{sub}+1):((cb.m+1)*{sub})], "
        "cb.cv) - cb.dcc, 6) AS s FROM resid r, cb), "
        "enc AS (SELECT vec_id, m, code FROM ("
        "SELECT vec_id, m, code, row_number() OVER ("
        "PARTITION BY vec_id, m ORDER BY s DESC, code ASC) AS r "
        "FROM scored_enc) WHERE r = 1), "
        f"{_pq_lut_cte(books)}, "
        f"qc(query_id, cent_id, qc) AS (VALUES {qc_values}), "
        f"csd(cent_id, m, cr) AS (VALUES {csd_values}), "
        f"c2t(cent_id, c2) AS (VALUES {c2_values}), "
        "sums AS (SELECT p.query_id, a.vec_id, "
        "MAX(qcv.qc) + SUM(l.lr[e2.code + 1]) AS ip, "
        "MAX(c2t.c2) + 2*SUM(cs.cr[e2.code + 1]) "
        "+ SUM(d.vr[e2.code + 1]) AS vn "
        "FROM probes p JOIN assigned a ON a.cent_id = p.cent_id "
        "JOIN enc e2 ON e2.vec_id = a.vec_id "
        "JOIN lut l ON l.query_id = p.query_id AND l.m = e2.m "
        "JOIN csd cs ON cs.cent_id = p.cent_id AND cs.m = e2.m "
        "JOIN dccq d ON d.m = e2.m "
        "JOIN qc qcv ON qcv.query_id = p.query_id "
        "AND qcv.cent_id = p.cent_id "
        "JOIN c2t ON c2t.cent_id = p.cent_id "
        "GROUP BY 1, 2), "
        + _pq_sims_select(scale)
    )


def _ann_sq8_sql() -> str:
    """IVF-SQ8 oracle: coarse assignment over the centroid literals
    (the _ann_ivf_sql trainer), per-vector int8 quantization replayed
    with the quantize_embeddings oracle's canonical expression shape,
    integer row sums (Σq, Σq² — exact in any order), probe ranking, and
    the algebraically-expanded dequantized-cosine scoring. The query
    constants (vector, Σqᵤ, Σqᵤ²) embed as literals derived by the same
    sequential left fold Spark's F.aggregate runs, so the only
    cross-engine float hazard left is the round-6-masked inner-product
    summation order — the same accepted hazard as ann_cosine_topk."""
    import duckdb

    from lotad_spark.pipeline import kmeans, pq

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    cent_values = _centroid_values_sql(sf_dir, _oracle_rule_k(sf_dir))
    qrows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE vec_id < 5 ORDER BY vec_id"
    ).fetchall()

    def _fold_sum(v):
        acc = 0.0
        for x in v:
            acc += float(x)
        return acc

    qm_values = ", ".join(
        f"({qid}, [{', '.join(repr(float(x)) for x in emb)}]::DOUBLE[], "
        f"{_fold_sum(emb)!r}, {pq.self_dot(emb)!r})"
        for qid, emb in qrows
    )
    return (
        f"WITH cent(cent_id, ccv) AS (VALUES {cent_values}), "
        "assigned AS (SELECT vec_id, cent_id FROM ("
        "SELECT e.vec_id, c.cent_id, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY "
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM embeddings e, cent c) "
        "WHERE r = 1), "
        "quant AS (SELECT vec_id, round((mx - mn) / 255.0, 6) AS scale, "
        "round(mn, 6) AS zero_point, "
        "CASE WHEN mx = mn THEN list_transform(emb, x -> 0) "
        "ELSE list_transform(emb, x -> "
        "CAST(round((x - mn) * 255.0 / (mx - mn)) AS INT)) END AS qvec "
        "FROM (SELECT vec_id, emb, "
        "list_aggregate(emb, 'min') AS mn, "
        "list_aggregate(emb, 'max') AS mx FROM ("
        "SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS emb FROM embeddings))), "
        "sq AS (SELECT q.vec_id, a.cent_id, q.scale, q.zero_point, "
        "q.qvec, CAST(list_sum(q.qvec) AS BIGINT) AS sum_q, "
        "CAST(list_sum(list_transform(q.qvec, "
        "x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS sum_q2 "
        "FROM quant q JOIN assigned a USING (vec_id)), "
        f"qm(query_id, qv, qsum, q2) AS (VALUES {qm_values}), "
        "probes AS (SELECT query_id, cent_id FROM ("
        "SELECT m.query_id, c.cent_id, row_number() OVER ("
        "PARTITION BY m.query_id ORDER BY "
        "round(list_cosine_similarity(m.qv, c.ccv), 6) "
        "DESC, c.cent_id ASC) AS r FROM qm m, cent c) WHERE r <= 2), "
        "scored AS (SELECT p.query_id, s.vec_id, "
        "round((s.zero_point * m.qsum + s.scale * "
        "list_inner_product(m.qv, list_transform(s.qvec, "
        "x -> CAST(x AS DOUBLE)))) / sqrt(m.q2 * ("
        "CAST(len(s.qvec) AS DOUBLE) * s.zero_point * s.zero_point "
        "+ 2.0 * s.zero_point * s.scale * CAST(s.sum_q AS DOUBLE) "
        "+ s.scale * s.scale * CAST(s.sum_q2 AS DOUBLE))), 6) AS sim "
        "FROM probes p JOIN sq s USING (cent_id) "
        "JOIN qm m ON m.query_id = p.query_id "
        "WHERE s.vec_id != p.query_id) "
        "SELECT query_id, vec_id, sim FROM ("
        "SELECT query_id, vec_id, sim, row_number() OVER ("
        "PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS r "
        "FROM scored) WHERE r <= 5"
    )


_ANN_IVF_SQL_TEMPLATE = """
WITH cent(cent_id, cv) AS (
    VALUES __CENTROID_VALUES__
),
assigned AS (
    SELECT vec_id, emb, cent_id FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
                round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6)
                    DESC, c.cent_id ASC) AS r
        FROM embeddings e, cent c
    ) WHERE r = 1
),
probes AS (
    SELECT query_id, qv, cent_id FROM (
        SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, c.cent_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
                round(list_cosine_similarity(q.embedding::DOUBLE[], c.cv), 6)
                    DESC, c.cent_id ASC) AS r
        FROM embeddings q, cent c WHERE q.vec_id < 5
    ) WHERE r <= 2
),
scored AS (
    SELECT p.query_id, a.vec_id,
        round(list_cosine_similarity(p.qv, a.emb), 6) AS sim
    FROM probes p JOIN assigned a USING (cent_id)
    WHERE a.vec_id != p.query_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS r
    FROM scored
)
SELECT query_id, vec_id, sim FROM ranked WHERE r <= 5
"""

_TOKS = "string_split_regex(trim(text), '\\s+')"

_DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0"
)

_NEAR_DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text || ' zz tail words' FROM documents "
    "WHERE doc_id % 25 = 0"
)

_LANG_MARKER_SQL = {
    "en": "['the','a','of','and','is']",
    "de": "['der','die','das','und','ist']",
    "fr": "['le','la','les','et','est']",
    "es": "['el','la','los','y','es']",
    "zh": "['的','是','了','在','和']",
}

_LANG_ID_SQL = (
    "WITH scored AS (SELECT doc_id, "
    + ", ".join(
        f"len(list_filter({markers}::VARCHAR[], m -> list_contains("
        f"list_transform({_TOKS}, t -> lower(t)), m))) AS s_{lang}"
        for lang, markers in _LANG_MARKER_SQL.items()
    )
    + " FROM documents) SELECT doc_id, CASE "
    + "WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN s_{lang} = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN '{lang}'"
        for lang in _LANG_MARKER_SQL
    )
    + " END AS lang_pred FROM scored"
)

# MinHash K=8 / 4 bands of 2 — mirrors lotad_spark.pipeline.dedup defaults.
# Mirrors pipeline.dedup.minhash_signatures: one 32-bit base hash per
# shingle (first 8 md5 hex chars), then K universal-hash permutations
# (a·h + b) mod 2^31−1 with the same deterministic coefficients.
def _sig_cols_sql(num_perms: int = 8) -> str:
    from lotad_spark.pipeline.dedup import MERSENNE31, perm_coeffs

    base = "CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)"
    return ", ".join(
        f"min(({a} * {base} + {b}) % {MERSENNE31}) AS sig_{i}"
        for i, (a, b) in enumerate(perm_coeffs(num_perms))
    )


_SIG_COLS_SQL = _sig_cols_sql(8)
_BAND_ROWS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_i, "
    f"md5(sig_{2 * b} || '|' || sig_{2 * b + 1}) AS bh FROM sig"
    for b in range(4)
)

_NEAR_DUP_SQL = f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM corpus),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
    FROM toks WHERE len(tk) >= 3
),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id),
bands AS ({_BAND_ROWS_SQL}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_i = b.band_i AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS n_inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.id_a
    JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
    GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
    CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE) >= 0.6
"""

# Exact duplicate-substring spans: positional 6-gram hashes, globally
# repeated grams, gaps-and-islands merge per document — the SQL replay of
# pipeline/spandedup.py (same 16-hex-md5 gram key, same merge rule
# pos − prev <= n).
_SPAN_CTES_SQL = f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM corpus),
pg0 AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tk) - 6 + 2),
            i -> {{'pos': i - 1,
                   'gh': substr(md5(array_to_string(tk[i:i+5], ' ')), 1, 16)}}
        )) AS u
    FROM toks WHERE len(tk) >= 6
),
pg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM pg0),
dup AS (SELECT gh FROM pg GROUP BY gh HAVING count(*) >= 2),
m AS (SELECT p.doc_id, p.pos FROM pg p JOIN dup d USING (gh)),
fl AS (
    SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 6
             THEN 1 ELSE 0 END AS nw
    FROM m
),
isl AS (
    SELECT doc_id, pos,
        sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM fl
),
spans AS (
    SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e, count(*) AS ng
    FROM isl GROUP BY doc_id, g
)"""

# Span-level decontamination: train positions whose 6-gram is in the
# eval key set, merged by the same gaps-and-islands rule.
_CONTAM_SPANS_SQL = f"""
WITH ev AS (
    SELECT doc_id, array_to_string(list_slice({_TOKS}, 1, 30), ' ') AS text
    FROM documents WHERE doc_id % 25 = 0
),
etoks AS (SELECT doc_id, {_TOKS} AS tk FROM ev),
ek AS (
    SELECT DISTINCT unnest(list_transform(range(1, len(tk) - 6 + 2),
        i -> substr(md5(array_to_string(tk[i:i+5], ' ')), 1, 16))) AS gh
    FROM etoks WHERE len(tk) >= 6
),
ttoks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
pg0 AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tk) - 6 + 2),
            i -> {{'pos': i - 1,
                   'gh': substr(md5(array_to_string(tk[i:i+5], ' ')), 1, 16)}}
        )) AS u
    FROM ttoks WHERE len(tk) >= 6
),
pg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM pg0),
m AS (SELECT p.doc_id, p.pos FROM pg p JOIN ek USING (gh)),
fl AS (
    SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 6
             THEN 1 ELSE 0 END AS nw
    FROM m
),
isl AS (
    SELECT doc_id, pos,
        sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM fl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 5 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, g
"""

# Incremental probe == batch spans over the union, batch docs only.
_SPAN_INDEX_PROBE_SQL = f"""{_SPAN_CTES_SQL}
SELECT doc_id, CAST(s AS BIGINT) AS span_start, CAST(e AS BIGINT) AS span_end,
       CAST(ng AS BIGINT) AS n_dup_grams
FROM spans WHERE doc_id >= 100000
"""

_STRIP_SPANS_SQL = f"""{_SPAN_CTES_SQL},
cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
tp0 AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tk) + 1),
            i -> {{'pos': i - 1, 'tok': tk[i]}})) AS u
    FROM toks
),
tp AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tp0),
rebuilt AS (
    SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS new_text
    FROM tp t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
    WHERE c.pos IS NULL GROUP BY t.doc_id
),
nrem AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS nr FROM spans GROUP BY doc_id)
SELECT c.doc_id,
    CASE WHEN n.doc_id IS NULL THEN c.text ELSE coalesce(r.new_text, '') END AS text,
    CAST(coalesce(n.nr, 0) AS BIGINT) AS n_tokens_removed
FROM corpus c
LEFT JOIN nrem n USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""

# Incremental index probe == batch MinHash near-dup over the same union
# corpus, restricted to (new-batch, indexed-corpus) candidate pairs; the
# stored 64-bit shingle hashes are collision-free at this scale, so
# Jaccard over hashes equals Jaccard over shingles.
_INDEX_PROBE_SQL = f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM corpus),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
    FROM toks WHERE len(tk) >= 3
),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id),
bands AS ({_BAND_ROWS_SQL}),
cand AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band_i = b.band_i AND a.bh = b.bh
    WHERE a.doc_id >= 100000 AND b.doc_id < 100000
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.new_id, c.corpus_id, count(*) AS n_inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.new_id
    JOIN sh s2 ON s2.doc_id = c.corpus_id AND s2.shingle = s1.shingle
    GROUP BY c.new_id, c.corpus_id
)
SELECT i.new_id, i.corpus_id,
    round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 6)
        AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.new_id
JOIN sizes zb ON zb.doc_id = i.corpus_id
WHERE CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE) >= 0.6
"""

_NGRAM_JACCARD_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 10 = 0
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
    FROM toks WHERE len(tk) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS n_inter
    FROM pairs c
    JOIN sh s1 ON s1.doc_id = c.id_a
    JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
    GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
    round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 6)
        AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
"""

# --- sampling / contamination / curation fragments -------------------------

from lotad_spark.pipeline.sampling import _hex_threshold

# Distinct word-3-gram shingles of a (doc_id, tk) CTE — the shape shared by
# the near-dup and contamination oracles.
def _shingle_select(toks_cte: str) -> str:
    return (
        "SELECT DISTINCT doc_id, "
        "unnest(list_transform(range(1, len(tk) - 1), "
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle "
        f"FROM {toks_cte} WHERE len(tk) >= 3"
    )


_EVAL_SNIPPET_SQL = (
    f"SELECT doc_id, array_to_string(list_slice({_TOKS}, 1, 30), ' ') AS text "
    "FROM documents WHERE doc_id % 25 = 0"
)

_CONTAM_SQL = f"""
WITH ev AS ({_EVAL_SNIPPET_SQL}),
ttk AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
tsh AS ({_shingle_select('ttk')}),
etk AS (SELECT doc_id, {_TOKS} AS tk FROM ev),
esh AS ({_shingle_select('etk')}),
esz AS (SELECT doc_id, count(*) AS e_sz FROM esh GROUP BY doc_id),
inter AS (
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_inter
    FROM tsh t JOIN esh e ON e.shingle = t.shingle GROUP BY 1, 2
)
SELECT train_id, eval_id,
    round(CAST(n_inter AS DOUBLE) / CAST(e_sz AS DOUBLE), 6) AS containment
FROM inter JOIN esz ON esz.doc_id = inter.eval_id
WHERE CAST(n_inter AS DOUBLE) / CAST(e_sz AS DOUBLE) >= 0.5
"""

_QUALITY_EXPR_SQL = (
    f"(CAST(len(list_filter({_TOKS}, t -> lower(t) IN "
    f"('the','a','of','and','is'))) AS DOUBLE) "
    f"/ greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)) * 0.5 "
    f"+ (least(CAST(len({_TOKS}) AS DOUBLE), 100.0) / 100.0) * 0.3 "
    f"+ (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) "
    f"AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2"
)

_CURATE_CTES = f"""lang AS ({_LANG_ID_SQL}),
q AS (SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality FROM documents),
st AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
gated AS (
    SELECT d.doc_id, d.source, d.text, q.quality, st.n_tokens
    FROM documents d
    JOIN lang ON lang.doc_id = d.doc_id
    JOIN q ON q.doc_id = d.doc_id
    JOIN st ON st.doc_id = d.doc_id
    WHERE lang.lang_pred = 'en' AND q.quality >= 0.5
      AND st.n_tokens BETWEEN 5 AND 100000
),
dd AS (
    SELECT * FROM gated
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
toks AS (SELECT doc_id, {_TOKS} AS tk FROM dd),
sh AS ({_shingle_select('toks')}),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id),
bands AS ({_BAND_ROWS_SQL}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_i = b.band_i AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS n_inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.id_a
    JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
    GROUP BY c.id_a, c.id_b
),
pairs AS (
    SELECT i.id_a, i.id_b FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE)
          >= 0.6
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT src, dst FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component_id
         FROM reach GROUP BY src),
near_drop AS (SELECT doc_id FROM comp WHERE doc_id != component_id),
kept AS (SELECT * FROM dd
         WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
ev AS ({_EVAL_SNIPPET_SQL}),
etk AS (SELECT doc_id, {_TOKS} AS tk FROM ev),
esh AS ({_shingle_select('etk')}),
esz AS (SELECT doc_id, count(*) AS e_sz FROM esh GROUP BY doc_id),
ktk AS (SELECT doc_id, {_TOKS} AS tk FROM kept),
ksh AS ({_shingle_select('ktk')}),
cinter AS (
    SELECT k.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_inter
    FROM ksh k JOIN esh e ON e.shingle = k.shingle GROUP BY 1, 2
),
contam AS (
    SELECT DISTINCT train_id FROM cinter
    JOIN esz ON esz.doc_id = cinter.eval_id
    WHERE CAST(n_inter AS DOUBLE) / CAST(e_sz AS DOUBLE) >= 0.5
),
kept2 AS (SELECT * FROM kept
          WHERE doc_id NOT IN (SELECT train_id FROM contam)),
capped AS (
    SELECT * FROM kept2
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY quality DESC,
                 substr(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 8),
                 doc_id) <= 40
),
final AS (
    SELECT * FROM capped
    WHERE substr(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '{_hex_threshold(0.5)}'
)"""

_CURATE_SQL = f"""
WITH RECURSIVE {_CURATE_CTES}
SELECT doc_id, source, round(quality, 6) AS quality, n_tokens FROM final
"""

# plan_training_corpus oracle: the curated corpus (WITH text) through
# mixture → upsample(epochs) → pack-id chunk plan, mirroring
# q_training_plan's parameters exactly.
_TRAIN_MIX = {"src0": 1.0, "src1": 0.25}
_TRAIN_UP = {"src2": 2.0}
_TRAINING_PLAN_SQL = f"""
WITH RECURSIVE {_CURATE_CTES},
mixed AS (
    SELECT doc_id, source, text FROM final
    WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE source {" ".join(f"WHEN '{s}' THEN '{_hex_threshold(r)}'" for s, r in sorted(_TRAIN_MIX.items()))} ELSE '{_hex_threshold(1.0)}' END
),
rep AS (
    SELECT doc_id, source, text,
           unnest(generate_series(1, n)) AS epoch
    FROM (
        SELECT *, CASE source {" ".join(f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(_TRAIN_UP.items()))} ELSE 1 END
               + CASE WHEN substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)
                      < CASE source {" ".join(f"WHEN '{s}' THEN '{_hex_threshold(w - int(w))}'" for s, w in sorted(_TRAIN_UP.items()))} ELSE '{_hex_threshold(0.0)}' END
                 THEN 1 ELSE 0 END AS n
        FROM mixed)
),
packs AS (
    SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)
           AS pack_id, text FROM rep
),
ptoks AS (
    SELECT pack_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t <> '')) AS BIGINT) AS n_tokens,
           substr(md5('shuffle:' || pack_id), 1, 8) AS sk
    FROM packs
),
poffs AS (
    SELECT pack_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY sk, pack_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS chunk_start
    FROM ptoks WHERE n_tokens > 0
)
SELECT pack_id, n_tokens, chunk_start,
       CAST(floor(chunk_start / 256) AS BIGINT) AS first_chunk,
       CAST(floor((chunk_start + n_tokens - 1) / 256) AS BIGINT)
       AS last_chunk
FROM poffs
"""


def _simhash_fp_ctes(source_sql: str) -> str:
    """CTE chain computing (doc_id, simhash) for an arbitrary corpus —
    shared by the fingerprint oracle and the pairing oracle."""
    return f"""
corpus AS ({source_sql}),
toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM corpus
),
tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
th AS (
    SELECT doc_id, cnt,
        ('0x' || substr(md5(tok), 1, 8))::UBIGINT AS tok_hash
    FROM tf
),
bits AS (
    SELECT doc_id, bs.b,
        SUM(CASE WHEN (tok_hash >> bs.b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
    FROM th, (SELECT unnest(range(0, 32)) AS b) bs
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
        CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
             AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)"""


# 4 bands × 8 bits; recall exact for hamming ≤ 3 — mirrors
# lotad_spark.pipeline.dedup.simhash_near_dup_pairs defaults.
_SIMHASH_PAIRS_SQL = (
    "WITH "
    + _simhash_fp_ctes(_NEAR_DUP_CORPUS_SQL)
    + """,
sl AS (
    SELECT doc_id, simhash, bs.b AS band_i,
        (simhash >> (bs.b * 8)) & 255 AS bv
    FROM fp, (SELECT unnest(range(0, 4)) AS b) bs
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        a.simhash AS ha, b.simhash AS hb
    FROM sl a JOIN sl b
      ON a.band_i = b.band_i AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""
)



_SESSION_SQL = """
WITH o AS (
    SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                >= INTERVAL 5 MINUTE
             THEN 1 ELSE 0 END AS new_s
    FROM events
),
s AS (
    SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id,
    CAST(CAST(min(ts) AS TIMESTAMP) AS VARCHAR) AS session_start,
    CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""




_WINNOW_SQL = """
WITH n AS (
    SELECT doc_id,
        lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
    FROM documents
),
g AS (
    SELECT doc_id,
        list_transform(range(1, greatest(length(t) - 8 + 1, 0) + 1),
                       i -> substr(md5(substring(t, i, 8)), 1, 8)) AS grams
    FROM n
),
m AS (
    SELECT doc_id,
        list_transform(range(0, CAST(ceil(len(grams) / 4.0) AS INT)),
                       w -> list_min(list_slice(grams, w * 4 + 1, w * 4 + 4)))
            AS mins
    FROM g
)
SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(mins)), '')) AS winnow_fp
FROM m
"""


def _embedding_lsh_sql() -> str:
    """Generated oracle for dedup_embedding: identical hyperplane constants
    embedded as SQL literals (same md5 derivation as the Spark side)."""
    from lotad_spark.pipeline.similarity import lsh_hyperplanes

    planes = lsh_hyperplanes(16, 64)
    bits_sql = ", ".join(
        "CASE WHEN round(list_dot_product(v, ["
        + ", ".join(repr(x) for x in pl)
        + "]::DOUBLE[]), 6) > 0 THEN '1' ELSE '0' END"
        for pl in planes
    )
    # 2 bands x 8 bits — must mirror embedding_near_dup_pairs' defaults.
    bands_sql = " UNION ALL ".join(
        "SELECT vec_id, {b} AS band_i, {concat} AS bh FROM sig".format(
            b=b,
            concat=" || ".join(f"bits[{8 * b + i + 1}]" for i in range(8)),
        )
        for b in range(2)
    )
    return f"""
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 200000,
        list_transform(embedding::DOUBLE[], x -> CAST(CAST(x * 1.0001 AS FLOAT) AS DOUBLE))
    FROM embeddings WHERE vec_id % 20 = 0
),
sig AS (SELECT vec_id, [{bits_sql}] AS bits FROM corpus),
bands AS ({bands_sql}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_i = b.band_i AND a.bh = b.bh AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b, round(list_cosine_similarity(ca.v, cb.v), 6) AS sim
FROM cand c
JOIN corpus ca ON ca.vec_id = c.id_a
JOIN corpus cb ON cb.vec_id = c.id_b
WHERE round(list_cosine_similarity(ca.v, cb.v), 6) >= 0.99
"""


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def q_snapshot_diff(spark, sf_dir):
    """Incremental drift against a stored hash snapshot
    (operators/snapshot.py): fingerprint the base customer table once,
    then diff the value-changed variant against the hashes alone — the
    nightly shape that never re-reads yesterday's data. Must agree with
    the full row diff on the same inputs: added rows carry full columns,
    deleted rows are hash-only (data columns NULL)."""
    from lotad_spark.operators.snapshot import (
        diff_against_snapshot,
        write_hash_snapshot,
    )

    snap_dir = _scratch("lotad_snap_") + "/customer_hashes"
    write_hash_snapshot(_t(spark, sf_dir, "customer"), snap_dir)
    d = diff_against_snapshot(
        _customer_value_change(spark, sf_dir),
        snap_dir,
        db_id="current",
        snapshot_id="snapshot",
    )
    return d.drop(HASH_COL)


def q_dedup_index_probe(spark, sf_dir):
    """Ingestion-time near-dup: build the LSH index of the base corpus
    once (pipeline/dedup.py write_dedup_index — band rows + 64-bit
    shingle hashes, no text stored), then probe the near-copy batch
    against it. Must agree with batch MinHash near-dup restricted to
    (new, corpus) pairs; the corpus text is never re-read at probe
    time."""
    from lotad_spark.pipeline.dedup import (
        near_dup_against_index,
        write_dedup_index,
    )

    idx_dir = _scratch("lotad_idx_") + "/index"
    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    write_dedup_index(corpus, idx_dir)
    batch = (
        corpus.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz tail words")))
    )
    return near_dup_against_index(batch, idx_dir, threshold=0.6).select(
        "new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


def q_psi_online(spark, sf_dir):
    """Online PSI over landed histogram counts (operators/profile.py
    ``psi_from_counts``): each hour's value histogram scored against the
    all-hours reference — the batch face of the streaming monitor
    (value_histogram → land counts → score). Arithmetic must match the
    DuckDB re-derivation bit-for-bit: union-of-bins spine, Laplace
    smoothing over spine size, per-term round(6), decimal-exact sum.

    The reference histogram deliberately covers only ``value < 150``
    (bins 0-2): hourly currents land mass in bins 3-4 that the reference
    has NEVER seen — the new-mode case drift detection exists for — so
    the union-of-bins spine and zero-reference-mass smoothing are
    exercised by the oracle, not just by pytest."""
    from lotad_spark.operators import psi_from_counts
    from lotad_spark.streaming import value_histogram

    ev = _t(spark, sf_dir, "events")
    hist = value_histogram(ev, lo=0.0, hi=250.0, n_bins=5)
    ref = (
        value_histogram(ev.filter(F.col("value") < 150), lo=0.0, hi=250.0,
                        n_bins=5)
        .groupBy("bin_id")
        .agg(F.sum("n").alias("n"))
    )
    return psi_from_counts(hist, ref)


def q_sql_row_hash_diff(spark, sf_dir):
    """SQL-registered canonical hash driven end-to-end (§2.9): the
    reference registers get_row_hash into every connection so custom
    queries can call it in SQL (lotad/connection.py:133,247 — queries use
    ``get_row_hash(TO_JSON(t)::VARCHAR)``). Both compare sides compute
    their digest IN SQL through the registered UDF; a whitespace-only
    JSON reformat hashes identically (zero drift) while a genuine value
    change (k+1 where event_id % 263 == 0) surfaces from both sides of
    the hash anti-join."""
    from lotad_spark.hashing import register_sql_functions

    register_sql_functions(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    changed = F.col("event_id") % 263 == 0
    k = F.get_json_object("props", "$.k").cast("bigint")
    side2 = ev.select(
        "event_id",
        F.concat(
            F.lit('{ "k" : '),
            F.when(changed, k + 1).otherwise(k).cast("string"),
            F.lit(" }"),
        ).alias("props"),
    )
    ev.createOrReplaceTempView("_rh_side1")
    side2.createOrReplaceTempView("_rh_side2")
    h1 = spark.sql(
        "SELECT event_id, get_row_hash(props) AS ph, "
        "'db1' AS observed_in FROM _rh_side1"
    )
    h2 = spark.sql(
        "SELECT event_id, get_row_hash(props) AS ph, "
        "'db2' AS observed_in FROM _rh_side2"
    )
    # Symmetric difference via ONE grouped pass over the tagged union —
    # two anti-joins would re-execute each side's hash scan
    # (4 UDF passes instead of 2).
    sides = h1.unionByName(h2).groupBy("event_id", "ph").agg(
        F.collect_set("observed_in").alias("_s")
    )
    return sides.filter(F.size("_s") == 1).select(
        "event_id", F.element_at("_s", 1).alias("observed_in")
    )


def q_strip_dup_lines(spark, sf_dir):
    """CCNet-style line-level boilerplate removal
    (pipeline/text.py strip_duplicate_lines): the testdata documents
    carry no newlines, so the fixture first folds each document into
    deterministic 10-token lines (replayed identically in the oracle);
    lines occurring >= 2 times corpus-wide are then stripped, untouched
    documents pass through byte-identical.

    NULL-text contract: the oracle coalesces absent docs to text '',
    while the library's strip_duplicate_lines passes NULL through as
    NULL — so the fixture coalesces text to '' up front, making a
    NULL/empty doc land as ('', 0) on BOTH engines regardless of how
    the testdata fixture is regenerated (same contract note style as
    json_key_stats)."""
    from lotad_spark.pipeline import strip_duplicate_lines
    from lotad_spark.pipeline.text import tokens

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    chunked = F.transform(
        F.array(tokens(F.col("text"))),
        lambda tk: F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.ceil(F.size(tk) / F.lit(10)) - 1).cast("int"),
                        F.lit(0),
                    ),
                ),
                lambda i: F.array_join(
                    F.slice(tk, i * F.lit(10) + 1, F.lit(10)), " "
                ),
            ),
            "\n",
        ),
    )[0]
    corpus = d.select("doc_id", chunked.alias("text"))
    return strip_duplicate_lines(corpus, min_count=2)


def q_json_schema_drift(spark, sf_dir):
    """Schema-on-read drift (operators/profile.py json_schema_drift):
    the reference's schema set-ops (SO3) extended INSIDE a JSON column.
    db2 adds key "extra" where event_id % 151 == 0 and empties the
    object where event_id % 157 == 0 (when-order ties go to the first
    branch, mirrored in the oracle) — so key k loses rows and key extra
    appears only on side 2; keys with identical stats emit nothing."""
    from lotad_spark.operators import json_schema_drift

    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    k = F.get_json_object("props", "$.k")
    side2 = ev.select(
        F.when(
            F.col("event_id") % 151 == 0,
            F.concat(F.lit('{"k": '), k, F.lit(', "extra": 1}')),
        )
        .when(F.col("event_id") % 157 == 0, F.lit("{}"))
        .otherwise(F.col("props"))
        .alias("props")
    )
    return json_schema_drift(ev, side2, "props")


def q_sqlite_scan_diff(spark, sf_dir):
    """Live SQLite file as a compare side through the native stdlib-sqlite3
    source (sources/sqlite_native.py — the reference attaches live SQLite
    databases, lotad/connection.py:299-327; here no JDBC jar is needed).
    Lands a deterministically mutated customer copy in a .sqlite file
    (drop keys %103==0, rename keys %101==0), scans it back sharded over
    rowid ranges via mapInPandas, and runs the core hash diff against the
    parquet truth. int/string columns only; the REAL/double round-trip is
    covered by tests/test_sqlite_native.py."""
    import pandas as pd

    from lotad_spark.sources.sqlite_native import (
        SqliteNativeDatabase,
        write_sqlite,
    )

    cols = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    path = _scratch("lotad_sqlite_") + "/export.sqlite"
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")[cols]
    cust = cust[cust.c_custkey % 103 != 0].copy()
    chg = cust.c_custkey % 101 == 0
    cust.loc[chg, "c_name"] = "SQLITE#" + cust.loc[chg, "c_custkey"].astype(str)
    write_sqlite(cust, path, "customer")

    sdb = SqliteNativeDatabase(spark, path, "export", num_partitions=4)
    res = diff_tables(
        _t(spark, sf_dir, "customer").select(*cols),
        sdb.table("customer"),
        db1_id="truth",
        db2_id="export",
        json_strings=False,
    )
    return res.diff.select("c_custkey", "c_name", "observed_in")


# One land-mutate-scan-back shape shared by the ORC/CSV/JSONL rows
# (sqlite_scan_diff predates it and keeps its pandas-side landing): a
# fix to the shape lands once, and the Spark query and its DuckDB
# oracle are generated from the SAME spec so the pair can't drift.
_FILE_SCAN_SPECS = {
    "orc": {"drop_mod": 107, "ren_mod": 109, "prefix": "ORC#",
            "double": True},
    "csv": {"drop_mod": 113, "ren_mod": 127, "prefix": "CSV#",
            "double": False},
    "jsonl": {"drop_mod": 131, "ren_mod": 137, "prefix": "JSONL#",
              "double": False},
}


def _file_scan_cols(spec) -> list[str]:
    cols = ["c_custkey", "c_name", "c_nationkey"]
    if spec["double"]:
        cols.append("c_acctbal")
    return cols + ["c_mktsegment"]


def _file_scan_diff(spark, sf_dir, fmt: str):
    from lotad_spark.sources.files import (
        CsvDatabase,
        JsonlDatabase,
        OrcDatabase,
    )

    spec = _FILE_SCAN_SPECS[fmt]
    root = _scratch(f"lotad_{fmt}_")
    truth = _t(spark, sf_dir, "customer").select(*_file_scan_cols(spec))
    mutated = truth.filter(
        F.col("c_custkey") % spec["drop_mod"] != 0
    ).withColumn(
        "c_name",
        F.when(
            F.col("c_custkey") % spec["ren_mod"] == 0,
            F.concat(
                F.lit(spec["prefix"]), F.col("c_custkey").cast("string")
            ),
        ).otherwise(F.col("c_name")),
    )
    writer = mutated.write.mode("overwrite")
    ddl = (
        "c_custkey BIGINT, c_name STRING, "
        "c_nationkey INT, c_mktsegment STRING"
    )
    if fmt == "orc":
        writer.orc(f"{root}/customer.orc")
        db = OrcDatabase(spark, root, "export")
    elif fmt == "csv":
        writer.option("header", "true").csv(f"{root}/customer.csv")
        db = CsvDatabase(spark, root, "export", schemas={"customer": ddl})
    else:
        writer.json(f"{root}/customer.jsonl")
        db = JsonlDatabase(spark, root, "export", schemas={"customer": ddl})
    res = diff_tables(
        truth,
        db.table("customer"),
        db1_id="truth",
        db2_id="export",
        json_strings=False,
    )
    return res.diff.select("c_custkey", "c_name", "observed_in")


def _file_scan_oracle(fmt: str) -> str:
    spec = _FILE_SCAN_SPECS[fmt]
    cols = ", ".join(_file_scan_cols(spec))
    rest = ", ".join(_file_scan_cols(spec)[2:])
    return (
        f"WITH export AS (SELECT c_custkey, "
        f"CASE WHEN c_custkey % {spec['ren_mod']} = 0 "
        f"THEN '{spec['prefix']}' || CAST(c_custkey AS VARCHAR) "
        f"ELSE c_name END AS c_name, {rest} FROM customer "
        f"WHERE c_custkey % {spec['drop_mod']} != 0), "
        f"truth AS (SELECT {cols} FROM customer) "
        "SELECT c_custkey, c_name, 'truth' AS observed_in FROM "
        "(SELECT * FROM truth EXCEPT SELECT * FROM export) "
        "UNION ALL "
        "SELECT c_custkey, c_name, 'export' AS observed_in FROM "
        "(SELECT * FROM export EXCEPT SELECT * FROM truth)"
    )


def q_orc_scan_diff(spark, sf_dir):
    """ORC export as a compare side (sources/files.py OrcDatabase — the
    self-describing columnar interchange path, with native footer
    schema + predicate pushdown; no inference pass). Lands a
    deterministically mutated customer copy as .orc (drop keys %107==0,
    rename keys %109==0), scans it back through the catalog surface and
    runs the core hash diff against the parquet truth. Includes the
    DOUBLE column c_acctbal: ORC round-trips binary doubles losslessly,
    the type-fidelity claim the text formats can't make."""
    return _file_scan_diff(spark, sf_dir, "orc")


def q_csv_scan_diff(spark, sf_dir):
    """CSV export as a compare side (sources/files.py CsvDatabase):
    lands a mutated customer copy as headered CSV (drop keys %113==0,
    rename keys %127==0), scans it back with an EXPLICIT DDL schema (the
    at-scale path — no inference pass; the reader streams straight into
    the plan) and hash-diffs against the parquet truth. int/string
    columns only: CSV carries no binary float fidelity — the
    double-vs-text reconciliation is the P4 string-cast normalization's
    job, pinned in tests/test_file_sources.py."""
    return _file_scan_diff(spark, sf_dir, "csv")


def q_jsonl_scan_diff(spark, sf_dir):
    """JSON-lines export as a compare side (sources/files.py
    JsonlDatabase) — completes the file-format scan family's driver
    coverage (parquet/orc/csv/sqlite rows exist): lands a mutated
    customer copy as .jsonl (drop keys %131==0, rename keys %137==0),
    scans it back with an explicit DDL schema (no inference pass) and
    hash-diffs against the parquet truth."""
    return _file_scan_diff(spark, sf_dir, "jsonl")


def q_apply_bpe(spark, sf_dir):
    """Tokenize the corpus with the 8-merge table learned by train_bpe
    (pipeline/bpe.py apply_bpe — the greedy rank-order fold as pure
    expressions). The oracle replays training via the same fixed-depth
    CTE unroll as bpe_merges, then applies each merge with the
    delimiter-wrapped string-replace equivalent of the greedy fold
    (left-to-right non-overlapping — replace() semantics — with every
    symbol wrapped in chr(31) so runs of l==r take every other match
    exactly like the fold). Tokens emit space-joined (symbols are
    chars of whitespace-split words + '</w>', so the join is
    unambiguous); the fixture documents contain no chr(31) (verified
    for sf0.01/sf0.1 — same contract-note style as strip_dup_lines)."""
    from lotad_spark.pipeline.bpe import apply_bpe, train_bpe

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merge_rows = train_bpe(d, num_merges=8).orderBy("rank").collect()
    merges = [(r.left, r.right) for r in merge_rows]
    out = apply_bpe(d, merges)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", " ").alias("tokens_str"),
    )


def q_interval_join_batch(spark, sf_dir):
    """Batch face of streaming/windowed.py stream_interval_join: the
    IDENTICAL join definition (key equality + point_ts in
    [interval_ts - max_delay, interval_ts)) run on bounded inputs — the
    same pairing the watermarked stream-stream join produces live
    (stream ≡ batch pinned over two real readStreams in
    tests/test_streaming_multimodal.py). Same semantics as
    range_join_views, so the same inequality-join oracle shape."""
    from lotad_spark.streaming import stream_interval_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return stream_interval_join(
        views,
        purchases,
        point_key="v_user",
        interval_key="p_user",
        point_ts="v_ts",
        interval_ts="p_ts",
        max_delay="1 hour",
    ).select("v_id", "p_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: row-level drift on the customer table (sf0.001) against a
    deleted-rows variant. Deterministic non-empty result."""
    sf_dir = "/root/testdata/sf0.001"
    r = diff_tables(
        _t(spark, sf_dir, "customer"),
        _customer_deleted(spark, sf_dir),
        db1_id="db1",
        db2_id="db2",
    )
    return r.diff.drop(HASH_COL)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is LOAD-BEARING: the driver's correctness harness
    checks the first 50 entries in dict order. Priority for the window:
    (a) rows whose code changed, (b) rows with no green round yet,
    (c) the rows longest out of the window, (d) multi-round green stable
    rows rotate out. Layout (177 rows, every one value-checked against
    its DuckDB oracle by scripts/check_oracle.py at sf0.01 and the pytest
    suite, in or out of the window):

    * 1-3 (rule a): the rows that run the JSON path of the canonical hash
      (lotad_spark/jvm/CanonicalHash.java, which parses with Jackson):
      diff_json_reorder, diff_array_reorder, sql_row_hash_diff.
    * 4-18 (rule a): the rows whose code or fixture last changed with
      the media and web decoders, http_encoding_counts → audio_stats.
    * 19-50 (rule c): the block multi_grain_cube → gopher_rules, the
      rows that were longest out of the window when it entered.
    * 51+ (rule d): rotated out, each with at least one green
      round on its current code — first quantize_embeddings,
      prototypicality_prune and cms_term_counts (displaced from the
      window's tail by rows 1-3), then the older-green rows, and last
      the most recently green ones.
    """
    return {
        # --- 1-3: the canonical hash's JSON path (rule a). ---
        "diff_json_reorder": q_diff_json_reorder,
        "diff_array_reorder": q_diff_array_reorder,
        "sql_row_hash_diff": q_sql_row_hash_diff,
        # --- 4-18: changed media and web decoder rows (rule a). ---
        "http_encoding_counts": q_http_encoding_counts,
        "image_near_dup_pairs": q_image_near_dup_pairs,
        "office_extract": q_office_extract,
        "script_profile": q_script_profile,
        "audio_tags": q_audio_tags,
        "video_stats": q_video_stats,
        "video_tags": q_video_tags,
        "decode_tier_counts": q_decode_tier_counts,
        "multimodal_decode": q_multimodal_decode,
        "image_provenance": q_image_provenance,
        "html_meta": q_html_meta,
        "canonical_url_dedup": q_canonical_url_dedup,
        "lang_mismatch": q_lang_mismatch,
        "http_unwrap": q_http_unwrap,
        "audio_stats": q_audio_stats,
        # --- 19-50: the longest-out block (rule c), filling the
        # window exactly. ---
        "multi_grain_cube": q_multi_grain_cube,
        "anomaly_online": q_anomaly_online,
        "events_funnel_windowed": q_events_funnel_windowed,
        "value_deciles": q_value_deciles,
        "span_index_probe": q_span_index_probe,
        "canonical_keep": q_canonical_keep,
        "contamination_spans": q_contamination_spans,
        "events_funnel": q_events_funnel,
        "profile_drift": q_profile_drift,
        "events_retention": q_events_retention,
        "psi_drift": q_psi_drift,
        "keyed_diff": q_keyed_diff,
        "multimodal_jpeg_progressive_hist": q_multimodal_jpeg_progressive_hist,
        "multimodal_tiff_luma_hist": q_multimodal_tiff_luma_hist,
        "heavy_hitters": q_heavy_hitters,
        "rollup_distinct_users": q_rollup_distinct_users,
        "wizard_overlap_probe": q_wizard_overlap_probe,
        "dedup_components": q_dedup_components,
        "dedup_near_minhash": q_dedup_near_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "corpus_filter": q_corpus_filter,
        "text_fingerprints": q_text_fingerprints,
        "text_winnow_fp": q_text_winnow_fp,
        "text_pii_scrub": q_text_pii_scrub,
        "text_unigram_lm": q_text_unigram_lm,
        "diff_deleted_rows": q_diff_deleted_rows,
        "gopher_rules": q_gopher_rules,
        # --- 51+: rotated out (rule d) — the window's displaced
        # tail, then older-green rows, the most recently green
        # last. Full registry enforced by scripts/check_oracle.py. ---
        "quantize_embeddings": q_quantize_embeddings,
        "prototypicality_prune": q_prototypicality_prune,
        "cms_term_counts": q_cms_term_counts,
        "bloom_membership": q_bloom_membership,
        "contamination_bloom": q_contamination_bloom,
        "bpe_fertility": q_bpe_fertility,
        "dedup_exact": q_dedup_exact,
        "ccnet_buckets": q_ccnet_buckets,
        "url_dedup": q_url_dedup,
        "url_dedup_incremental": q_url_dedup_incremental,
        "domain_stats": q_domain_stats,
        "domain_cap": q_domain_cap,
        "domain_blocklist": q_domain_blocklist,
        "multimodal_png_luma_hist": q_multimodal_png_luma_hist,
        "multimodal_resize_hist": q_multimodal_resize_hist,
        "readability": q_readability,
        "image_ahash_oriented": q_image_ahash_oriented,
        "exif_metadata": q_exif_metadata,
        "image_ahash": q_image_ahash,
        "image_phash": q_image_phash,
        "image_dhash": q_image_dhash,
        "rollup_gapfill": q_rollup_gapfill,
        "twa_by_user": q_twa_by_user,
        "json_key_stats": q_json_key_stats,
        "asof_latest_order": q_asof_latest_order,
        "strip_dup_lines": q_strip_dup_lines,
        "orc_scan_diff": q_orc_scan_diff,
        "csv_scan_diff": q_csv_scan_diff,
        "apply_bpe": q_apply_bpe,
        "interval_join_batch": q_interval_join_batch,
        "jsonl_scan_diff": q_jsonl_scan_diff,
        "dedup_semantic": q_dedup_semantic,
        "streaming_dedup_batch": q_streaming_dedup_batch,
        "frame_sample_plan": q_frame_sample_plan,
        "sqlite_scan_diff": q_sqlite_scan_diff,
        "strip_dup_spans": q_strip_dup_spans,
        "event_transitions": q_event_transitions,
        "path_signatures": q_path_signatures,
        "rollup_anomaly": q_rollup_anomaly,
        "events_sliding_agg": q_events_sliding_agg,
        "temperature_rates": q_temperature_rates,
        "text_repetition": q_text_repetition,
        "tfidf_top_terms": q_tfidf_top_terms,
        "sample_hash": q_sample_hash,
        "upsample_weights": q_upsample_weights,
        "shuffle_batches": q_shuffle_batches,
        "train_eval_split": q_train_eval_split,
        "stratified_cap": q_stratified_cap,
        "length_quantiles": q_length_quantiles,
        "mixture_sample": q_mixture_sample,
        "curate_corpus": q_curate_corpus,
        "chunk_manifest": q_chunk_manifest,
        "token_chunk_plan": q_token_chunk_plan,
        "training_plan": q_training_plan,
        "psi_online": q_psi_online,
        "rollup_hourly": q_rollup_hourly,
        "rollup_incremental": q_rollup_incremental,
        "sentence_split": q_sentence_split,
        "crawl_budget": q_crawl_budget,
        "exif_gps": q_exif_gps,
        "sitemap_urls": q_sitemap_urls,
        "robots_gate": q_robots_gate,
        "multimodal_webp_luma_hist": q_multimodal_webp_luma_hist,
        "edit_distance_pairs": q_edit_distance_pairs,
        "edit_distance_topk": q_edit_distance_topk,
        "events_value_hist": q_events_value_hist,
        "zorder_codes": q_zorder_codes,
        "snapshot_diff": q_snapshot_diff,
        "dedup_index_probe": q_dedup_index_probe,
        "range_join_views": q_range_join_views,
        "quantile_estimates": q_quantile_estimates,
        "quantiles_online": q_quantiles_online,
        "weighted_sample": q_weighted_sample,
        "dedup_embedding": q_dedup_embedding,
        "drift_static_batch": q_drift_static_batch,
        "events_key_stats": q_events_key_stats,
        "events_session_agg": q_events_session_agg,
        "skew_salted_join": q_skew_salted_join,
        "quality_classifier": q_quality_classifier,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_sq8_topk": q_ann_sq8_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivfpq_residual_topk": q_ann_ivfpq_residual_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "blocklist_filter": q_blocklist_filter,
        "text_normalize": q_text_normalize,
        "domain_apex_psl": q_domain_apex_psl,
        "multimodal_gif_resize_hist": q_multimodal_gif_resize_hist,
        "pack_plan": q_pack_plan,
        "multimodal_jpeg_luma_hist": q_multimodal_jpeg_luma_hist,
        "video_near_dup_pairs": q_video_near_dup_pairs,
        "audio_fingerprint": q_audio_fingerprint,
        "html_anchors": q_html_anchors,
        "html_tables": q_html_tables,
        "html_extract": q_html_extract,
        "html_links": q_html_links,
        "main_content": q_main_content,
        "template_fingerprint": q_template_fingerprint,
        "warc_ingest": q_warc_ingest,
        "wet_ingest": q_wet_ingest,
        "wat_links": q_wat_links,
        "pdf_metadata": q_pdf_metadata,
        "pdf_extract": q_pdf_extract,
        "multimodal_audio_hist": q_multimodal_audio_hist,
        "multimodal_video_hist": q_multimodal_video_hist,
        "video_scene_cuts": q_video_scene_cuts,
        "schema_drift_records": q_schema_drift_records,
        "skew_two_phase_agg": q_skew_two_phase_agg,
        "rolling_active_users_bound": q_rolling_active_users_bound,
        "dsir_weights": q_dsir_weights,
        "bm25_topk": q_bm25_topk,
        "diff_value_change": q_diff_value_change,
        "diff_counts": q_diff_counts,
        "diff_ignore_column": q_diff_ignore_column,
        "diff_ignore_dates": q_diff_ignore_dates,
        "diff_type_mismatch": q_diff_type_mismatch,
        "diff_dup_collapse": q_diff_dup_collapse,
        "drift_summary": q_drift_summary,
        "custom_query_diff": q_custom_query_diff,
        "text_bigram_lm": q_text_bigram_lm,
        "token_windows": q_token_windows,
        "json_schema_drift": q_json_schema_drift,
        "missing_table_records": q_missing_table_records,
        "suggest_ignore_columns": q_suggest_ignore_columns,
        "q1_lineitem_agg": q_q1_lineitem_agg,
        "topk_orders": q_topk_orders,
        "events_window_agg": q_events_window_agg,
    }


def oracle_sql() -> dict[str, str]:
    deleted = "SELECT * FROM customer WHERE c_custkey % 97 != 0"
    value_change = _CUSTOMER_VALUE_CHANGE_SQL
    json_v1 = (
        "SELECT n_nationkey, '{\"k\": ' || n_nationkey || ', \"name\": \"' "
        "|| n_name || '\"}' AS props FROM nation"
    )
    json_v2 = (
        "SELECT n_nationkey, '{\"name\": \"' || n_name || '\", \"k\": ' "
        "|| n_nationkey || '}' AS props FROM nation"
    )
    arr_v1 = (
        "SELECT n_nationkey, '[\"' || n_name || '\", \"' || n_name || '-x\"]' "
        "AS props FROM nation"
    )
    arr_v2 = (
        "SELECT n_nationkey, '[\"' || n_name || '-x\", \"' || n_name || '\"]' "
        "AS props FROM nation"
    )
    json_canon = (
        "SELECT n_nationkey, json_extract_string(props, '$.k') AS k, "
        "json_extract_string(props, '$.name') AS name FROM {v}"
    )
    arr_canon = (
        "SELECT n_nationkey, "
        "least(json_extract_string(props, '$[0]'), json_extract_string(props, '$[1]')) AS lo, "
        "greatest(json_extract_string(props, '$[0]'), json_extract_string(props, '$[1]')) AS hi "
        "FROM {v}"
    )
    mutated_customer = (
        "SELECT c_custkey, 'ZZ-' || c_custkey AS c_name, c_nationkey, "
        "c_acctbal, c_mktsegment FROM customer"
    )

    def zero_proof(c1: str, c2: str, cols: str = "*") -> str:
        return (
            f"SELECT CAST(count(*) AS BIGINT) AS drift_rows FROM ("
            f"(SELECT {cols} FROM ({c1}) EXCEPT SELECT {cols} FROM ({c2})) "
            f"UNION ALL "
            f"(SELECT {cols} FROM ({c2}) EXCEPT SELECT {cols} FROM ({c1})))"
        )

    def suggest_col(col: str) -> str:
        # A column is suggested when a 10k distinct sample from db1 has zero
        # overlap with db2 (wizard J3 probe).
        return (
            f"SELECT '{col}' AS column_name WHERE NOT EXISTS ("
            f"SELECT 1 FROM ({mutated_customer}) m JOIN "
            f"(SELECT DISTINCT {col} FROM customer LIMIT 10000) s USING ({col}))"
        )

    oracles = {
        "quality_classifier": _quality_classifier_sql(),
        "ccnet_buckets": _CCNET_BUCKETS_SQL,
        "multimodal_audio_hist": _MULTIMODAL_AUDIO_SQL,
        "multimodal_video_hist": _MULTIMODAL_VIDEO_SQL,
        "image_ahash": _IMAGE_AHASH_SQL,
        "image_phash": _image_phash_sql(),
        "image_dhash": _IMAGE_DHASH_SQL,
        "html_extract": _html_extract_sql(),
        "html_links": _html_links_sql(),
        "html_meta": _html_meta_sql(),
        "html_anchors": _html_anchors_sql(),
        "sentence_split": _sentence_split_sql(),
        "crawl_budget": _crawl_budget_sql(),
        "wet_ingest": _WET_INGEST_SQL,
        "wat_links": _WAT_LINKS_SQL,
        "exif_gps": _EXIF_GPS_SQL,
        "audio_tags": _AUDIO_TAGS_SQL,
        "http_unwrap": _http_unwrap_sql(),
        "http_encoding_counts": _HTTP_ENCODING_COUNTS_SQL,
        "image_near_dup_pairs": _IMAGE_NEAR_DUP_SQL,
        "office_extract": _OFFICE_EXTRACT_SQL,
        "audio_fingerprint": _AUDIO_FP_SQL,
        "canonical_url_dedup": _CANONICAL_URL_DEDUP_SQL,
        "video_tags": _VIDEO_TAGS_SQL,
        "lang_mismatch": _lang_mismatch_sql(),
        "audio_stats": _AUDIO_STATS_SQL,
        "video_stats": _VIDEO_STATS_SQL,
        "html_tables": _html_tables_sql(),
        "image_provenance": _IMAGE_PROVENANCE_SQL,
        # the WARC chain's payloads are the SAME template HTML (with
        # the r16 CJK paragraph injected for every 11th+3 doc — the
        # fixture ships those docs CJK-encoded, decode-back equals the
        # injected template, so the oracle injects unconditionally and
        # replays extraction), plus the synthesized URI
        "warc_ingest": (
            "SELECT 'https://example.com/doc/' || "
            "CAST(doc_id AS VARCHAR) AS target_uri, text FROM ("
            + _html_extract_sql(
                "SELECT doc_id, CASE WHEN doc_id % 11 = 3 THEN "
                "replace(html, '</body></html>', '<p>' || "
                "(CASE CAST((doc_id // 11) % 5 AS INT) "
                + " ".join(
                    f"WHEN {i} THEN '{phrase}'"
                    for i, (_l, _c, phrase) in enumerate(_CJK_WARC)
                )
                + " END) || '</p></body></html>') ELSE html END AS "
                "html FROM (" + _html_build_sql() + ")"
            )
            + ")"
        ),
        "robots_gate": _robots_gate_sql(),
        "video_scene_cuts": _VIDEO_SCENE_SQL,
        "video_near_dup_pairs": _VIDEO_NEAR_DUP_SQL,
        "url_dedup": _url_dedup_sql(),
        "url_dedup_incremental": _url_dedup_incremental_sql(),
        "domain_stats": _domain_stats_sql(),
        "domain_cap": _domain_cap_sql(),
        "domain_blocklist": _domain_blocklist_sql(),
        "domain_apex_psl": _domain_apex_psl_sql(),
        "edit_distance_pairs": _edit_pairs_sql(),
        "edit_distance_topk": _edit_topk_sql(),
        "heavy_hitters": _HEAVY_HITTERS_SQL,
        "multimodal_gif_resize_hist": _GIF_RESIZE_HIST_SQL,
        "multimodal_tiff_luma_hist": _TIFF_LUMA_HIST_SQL,
        "multimodal_webp_luma_hist": _WEBP_LUMA_HIST_SQL,
        "pdf_extract": _PDF_EXTRACT_SQL,
        "exif_metadata": _EXIF_METADATA_SQL,
        "sitemap_urls": _SITEMAP_URLS_SQL,
        "template_fingerprint": _template_fingerprint_sql(),
        "main_content": _main_content_sql(),
        "image_ahash_oriented": _IMAGE_AHASH_ORIENTED_SQL,
        "script_profile": _script_profile_sql(),
        "readability": _readability_sql(),
        "pack_plan": _PACK_PLAN_SQL,
        "diff_deleted_rows": _sym_except(
            _CUSTOMER_COLS, "customer", f"({deleted})"
        ),
        "diff_value_change": _sym_except(
            _CUSTOMER_COLS, "customer", f"({value_change})"
        ),
        "diff_counts": (
            "SELECT observed_in, CAST(count(*) AS BIGINT) AS n FROM ("
            + _sym_except(_CUSTOMER_COLS, "customer", f"({value_change})")
            + ") GROUP BY observed_in"
        ),
        "diff_ignore_column": zero_proof(
            "SELECT c_custkey, c_mktsegment, c_name, c_nationkey FROM customer",
            "SELECT c_custkey, c_mktsegment, c_name, c_nationkey "
            f"FROM ({value_change})",
        ),
        "diff_ignore_dates": zero_proof(
            "SELECT o_custkey, o_orderkey, o_orderpriority, o_orderstatus, "
            "o_totalprice FROM orders",
            "SELECT o_custkey, o_orderkey, o_orderpriority, o_orderstatus, "
            "o_totalprice FROM orders",
        ),
        "diff_type_mismatch": zero_proof(
            "SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_acctbal, "
            "c_mktsegment, c_name, c_nationkey FROM customer",
            "SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_acctbal, "
            "c_mktsegment, c_name, c_nationkey FROM customer",
        ),
        "diff_json_reorder": zero_proof(
            json_canon.format(v=f"({json_v1})"), json_canon.format(v=f"({json_v2})")
        ),
        "diff_array_reorder": zero_proof(
            arr_canon.format(v=f"({arr_v1})"), arr_canon.format(v=f"({arr_v2})")
        ),
        "diff_dup_collapse": zero_proof(
            "SELECT * FROM customer UNION ALL SELECT * FROM customer",
            "SELECT * FROM customer",
        ),
        "schema_drift_records": (
            "SELECT * FROM (VALUES "
            "('\"customer\"', '\"c_mktsegment\"', '\"db1\"', '\"VARCHAR\"', "
            "'\"db2\"', '\"None\"'), "
            "('\"customer\"', '\"c_acctbal\"', '\"db1\"', '\"DOUBLE\"', "
            "'\"db2\"', '\"VARCHAR\"')"
            ") AS t(table_name, column_name, db1, db1_column_type, db2, "
            "db2_column_type)"
        ),
        "missing_table_records": (
            "SELECT * FROM (VALUES ('\"orders\"', '\"db1\"', '\"db2\"')) "
            "AS t(table_name, observed_in, missing_in)"
        ),
        "drift_summary": (
            "SELECT 'customer' AS table_name, 'db1' AS db1, "
            "CAST((SELECT count(*) FROM customer WHERE c_custkey % 97 = 0) AS BIGINT) "
            "AS rows_only_in_db1, 'db2' AS db2, CAST(0 AS BIGINT) AS rows_only_in_db2 "
            "UNION ALL "
            "SELECT 'orders', 'db1', "
            "CAST((SELECT count(*) FROM orders WHERE o_orderkey % 89 = 0) AS BIGINT), "
            "'db2', CAST(0 AS BIGINT)"
        ),
        "wizard_overlap_probe": (
            "SELECT CAST(count(*) AS BIGINT) AS overlap_n FROM supplier "
            "WHERE s_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)"
        ),
        "suggest_ignore_columns": " UNION ALL ".join(
            suggest_col(c)
            for c in ["c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey"]
        ),
        "q1_lineitem_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_qty, "
            "round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_base_price, "
            "CAST(count(*) AS BIGINT) AS count_order "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "topk_orders": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
        ),
        # Spark's hopping windows are epoch-aligned (UTC session tz):
        # an event joins windows start = ts − (epoch_us % slide) − k·slide
        # for k in 0..window/slide−1 — pure microsecond arithmetic.
        "events_sliding_agg": (
            "WITH exp AS (SELECT event_type, value, "
            "ts - to_microseconds(CAST(epoch_us(ts) % 600000000 AS BIGINT) "
            "+ k * 600000000) AS ws "
            "FROM events, unnest([0, 1, 2]) AS u(k)) "
            "SELECT CAST(ws AS VARCHAR) AS win_start, event_type, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_value FROM exp GROUP BY 1, 2"
        ),
        "events_window_agg": (
            "SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR) "
            "AS hour_start, event_type, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        # DuckDB's native ASOF JOIN is the oracle for the union+window
        # implementation — identical inclusive (>=) tie semantics.
        "asof_latest_order": (
            "SELECT e.event_id, e.user_id, o.last_ok "
            "FROM events e ASOF LEFT JOIN ("
            "SELECT o_custkey, o_orderdate, "
            "CAST(max(o_orderkey) AS BIGINT) AS last_ok "
            "FROM orders GROUP BY 1, 2) o "
            "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"
        ),
        # The bin-bucketed equi-join must reproduce the plain inequality
        # self-join exactly (start inclusive, end exclusive).
        "range_join_views": (
            "SELECT v.event_id AS v_id, p.event_id AS p_id "
            "FROM events v JOIN events p "
            "ON v.user_id = p.user_id "
            "AND v.event_type = 'view' AND p.event_type = 'purchase' "
            "AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts"
        ),
        # Direct raw→hour aggregation: the minute→hour merged rollup must
        # be row-identical (mergeable-partials invariant, decimal-exact).
        # rollup_incremental shares this oracle (registered below): the
        # stored+upserted minute partials must serve the SAME hours.
        "rollup_hourly": (
            "SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) "
            "AS VARCHAR) AS bucket, event_type, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DECIMAL(27,6)) "
            "AS VARCHAR) AS sum_value, "
            "CAST(CAST(MIN(CAST(value AS DECIMAL(27,6))) AS DECIMAL(27,6)) "
            "AS VARCHAR) AS min_value, "
            "CAST(CAST(MAX(CAST(value AS DECIMAL(27,6))) AS DECIMAL(27,6)) "
            "AS VARCHAR) AS max_value "
            "FROM events GROUP BY 1, 2"
        ),
        "text_stats": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
            f"CAST(len({_TOKS}) AS BIGINT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpeish, "
            "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) "
            "AS n_punct FROM documents"
        ),
        "text_quality": (
            f"SELECT doc_id, "
            f"(CAST(len(list_filter({_TOKS}, t -> lower(t) IN "
            f"('the','a','of','and','is'))) AS DOUBLE) "
            f"/ greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)) * 0.5 "
            f"+ (least(CAST(len({_TOKS}) AS DOUBLE), 100.0) / 100.0) * 0.3 "
            f"+ (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) "
            f"AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 "
            f"AS quality FROM documents"
        ),
        "text_lang_id": _LANG_ID_SQL,
        "corpus_filter": (
            f"WITH lang AS ({_LANG_ID_SQL}), "
            f"q AS (SELECT doc_id, "
            f"(CAST(len(list_filter({_TOKS}, t -> lower(t) IN "
            f"('the','a','of','and','is'))) AS DOUBLE) "
            f"/ greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)) * 0.5 "
            f"+ (least(CAST(len({_TOKS}) AS DOUBLE), 100.0) / 100.0) * 0.3 "
            f"+ (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) "
            f"AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 "
            f"AS quality FROM documents), "
            f"st AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens "
            f"FROM documents) "
            "SELECT q.doc_id, round(q.quality, 6) AS quality, st.n_tokens "
            "FROM q JOIN lang ON lang.doc_id = q.doc_id "
            "JOIN st ON st.doc_id = q.doc_id "
            "WHERE lang.lang_pred = 'en' AND q.quality >= 0.5 "
            "AND st.n_tokens BETWEEN 5 AND 100000"
        ),
        "text_fingerprints": (
            "SELECT doc_id, "
            "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_norm, "
            f"md5(array_to_string(list_sort(list_transform({_TOKS}, "
            "t -> lower(t))), ' ')) AS fp_bow FROM documents"
        ),
        "dedup_exact": (
            f"SELECT md5(text) AS content_hash, min(doc_id) AS doc_id "
            f"FROM ({_DUP_CORPUS_SQL}) GROUP BY md5(text)"
        ),
        "dedup_near_minhash": _NEAR_DUP_SQL,
        "span_index_probe": _SPAN_INDEX_PROBE_SQL,
        "contamination_spans": _CONTAM_SPANS_SQL,
        "strip_dup_spans": _STRIP_SPANS_SQL,
        # GROUPING() packs bits first-column-most-significant in both
        # engines, so grain ids align without translation.
        "multi_grain_cube": (
            "SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) "
            "AS VARCHAR) AS bucket, event_type, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_value, "
            "CAST(GROUPING(CAST(date_trunc('hour', ts) AS TIMESTAMP), "
            "event_type) AS BIGINT) AS grain_id "
            "FROM events GROUP BY CUBE "
            "(CAST(date_trunc('hour', ts) AS TIMESTAMP), event_type)"
        ),
        # Same fixed formula and DECIMAL(38,18)-routed float sums on
        # both engines — doubles agree bit-for-bit before round(6).
        "temperature_rates": (
            "WITH counts AS (SELECT lang, CAST(count(*) AS BIGINT) "
            "AS n_docs FROM documents GROUP BY lang), "
            "tot AS (SELECT sum(n_docs) AS N FROM counts), "
            "c AS (SELECT lang, n_docs, n_docs / N AS p_raw, "
            "pow(n_docs / N, 0.5) AS pa FROM counts, tot), "
            "s AS (SELECT CAST(sum(CAST(pa AS DECIMAL(38,18))) AS DOUBLE) "
            "AS S FROM c), "
            "c2 AS (SELECT lang, n_docs, p_raw, pa / S AS p_temp FROM c, s), "
            "t AS (SELECT min(n_docs / p_temp) AS T FROM c2) "
            "SELECT lang, n_docs, round(p_raw, 6) AS p_raw, "
            "round(p_temp, 6) AS p_temp, "
            "round(least(p_temp * T / n_docs, 1.0), 6) AS keep_rate "
            "FROM c2, t"
        ),
        "dedup_components": (
            "WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM "
            f"({_NEAR_DUP_SQL})), "
            "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT src, dst FROM edges "
            "UNION SELECT r.src, e.dst FROM reach r "
            "JOIN edges e ON e.src = r.dst) "
            "SELECT src AS doc_id, least(src, min(dst)) AS component_id "
            "FROM reach GROUP BY src"
        ),
        # Same recursive components, then the longest member (tie ->
        # min id) per component via a rank window.
        "canonical_keep": (
            "WITH RECURSIVE corpus AS "
            f"({_NEAR_DUP_CORPUS_SQL}), "
            "pairs AS (SELECT id_a, id_b FROM "
            f"({_NEAR_DUP_SQL})), "
            "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT src, dst FROM edges "
            "UNION SELECT r.src, e.dst FROM reach r "
            "JOIN edges e ON e.src = r.dst), "
            "comp AS (SELECT src AS doc_id, "
            "least(src, min(dst)) AS component_id FROM reach GROUP BY src), "
            "scored AS (SELECT c.component_id, c.doc_id, "
            "CAST(length(co.text) AS BIGINT) AS text_len, "
            "row_number() OVER (PARTITION BY c.component_id "
            "ORDER BY length(co.text) DESC, c.doc_id) AS rn "
            "FROM comp c JOIN corpus co USING (doc_id)) "
            "SELECT component_id, doc_id AS keep_id, text_len "
            "FROM scored WHERE rn = 1"
        ),
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "dedup_simhash_pairs": _SIMHASH_PAIRS_SQL,
        "sample_hash": (
            "SELECT doc_id FROM documents "
            "WHERE substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8) "
            f"< '{_hex_threshold(0.25)}'"
        ),
        "mixture_sample": (
            "SELECT doc_id, source FROM documents "
            "WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            "< CASE source "
            + " ".join(
                f"WHEN '{s}' THEN '{_hex_threshold(r)}'"
                for s, r in sorted(_MIX_RATES.items())
            )
            + f" ELSE '{_hex_threshold(0.1)}' END"
        ),
        "upsample_weights": (
            "SELECT doc_id, source, "
            "CAST(unnest(generate_series(1, n)) AS INT) AS epoch FROM ("
            "SELECT doc_id, source, CASE source "
            + " ".join(
                f"WHEN '{s}' THEN {int(w)}"
                for s, w in sorted(_UPSAMPLE_WEIGHTS.items())
            )
            + " ELSE 1 END + CASE WHEN "
            "substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            "< CASE source "
            + " ".join(
                f"WHEN '{s}' THEN '{_hex_threshold(w - int(w))}'"
                for s, w in sorted(_UPSAMPLE_WEIGHTS.items())
            )
            + f" ELSE '{_hex_threshold(0.0)}' END THEN 1 ELSE 0 END AS n "
            "FROM documents)"
        ),
        "shuffle_batches": (
            "SELECT doc_id, shuffle_key, "
            "CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 "
            "AS BIGINT) AS shuffle_pos, "
            "CAST(floor((row_number() OVER (ORDER BY shuffle_key, doc_id) "
            "- 1) / 64) AS BIGINT) AS batch_id FROM ("
            "SELECT doc_id, "
            "substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            "AS shuffle_key FROM documents)"
        ),
        "quantize_embeddings": (
            "SELECT vec_id, round((mx - mn) / 255.0, 6) AS scale, "
            "round(mn, 6) AS zero_point, "
            "array_to_string(CASE WHEN mx = mn "
            "THEN list_transform(emb, x -> 0) "
            "ELSE list_transform(emb, x -> "
            "CAST(round((x - mn) * 255.0 / (mx - mn)) AS INT)) END, ',') "
            "AS qvec_csv "
            "FROM (SELECT vec_id, emb, "
            "list_aggregate(emb, 'min') AS mn, "
            "list_aggregate(emb, 'max') AS mx FROM ("
            "SELECT vec_id, list_transform(embedding, "
            "x -> CAST(x AS DOUBLE)) AS emb FROM embeddings))"
        ),
        "snapshot_diff": (
            # Snapshot drift == full row diff on the same inputs: added
            # rows (current EXCEPT snapshot-source) carry full columns;
            # deleted rows (snapshot-source EXCEPT current) are hash-only
            # on the Spark side, so the oracle emits typed NULLs.
            "SELECT 'current' AS observed_in, c_acctbal, c_custkey, "
            "c_mktsegment, c_name, c_nationkey FROM ("
            f"SELECT {_CUSTOMER_COLS} FROM ({_CUSTOMER_VALUE_CHANGE_SQL}) "
            f"EXCEPT SELECT {_CUSTOMER_COLS} FROM customer) "
            "UNION ALL "
            "SELECT 'snapshot' AS observed_in, "
            "CAST(NULL AS DOUBLE) AS c_acctbal, "
            "CAST(NULL AS BIGINT) AS c_custkey, "
            "CAST(NULL AS VARCHAR) AS c_mktsegment, "
            "CAST(NULL AS VARCHAR) AS c_name, "
            "CAST(NULL AS INTEGER) AS c_nationkey FROM ("
            f"SELECT {_CUSTOMER_COLS} FROM customer "
            f"EXCEPT SELECT {_CUSTOMER_COLS} FROM ({_CUSTOMER_VALUE_CHANGE_SQL}))"
        ),
        "dedup_index_probe": _INDEX_PROBE_SQL,
        "psi_online": (
            # Re-derives psi_from_counts end-to-end: the same 5-bin hourly
            # histogram, a reference that only ever saw value < 150 (so
            # bins 3-4 are current-only new modes), union-of-bins spine,
            # Laplace smoothing over spine size, round(term, 6),
            # decimal-exact sum.
            "WITH h AS (SELECT CAST(date_trunc('hour', ts) AS VARCHAR) "
            "AS hour_start, least(greatest(CAST(floor(CAST(value AS DOUBLE) "
            "/ 50.0) AS BIGINT), 0), 4) AS bin_id, CAST(count(*) AS BIGINT) "
            "AS n FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
            "ref AS (SELECT least(greatest(CAST(floor(CAST(value AS DOUBLE) "
            "/ 50.0) AS BIGINT), 0), 4) AS bin_id, "
            "CAST(count(*) AS BIGINT) AS rc FROM events "
            "WHERE value IS NOT NULL AND value < 150 GROUP BY 1), "
            "rtot AS (SELECT sum(rc) AS rt FROM ref), "
            "spine AS (SELECT DISTINCT bin_id FROM h "
            "UNION SELECT bin_id FROM ref), "
            "sn AS (SELECT count(*) AS s FROM spine), "
            "ctot AS (SELECT hour_start, sum(n) AS ct FROM h GROUP BY 1), "
            "terms AS (SELECT ctot.hour_start, "
            "coalesce(h.n, 0) AS cc, ctot.ct, "
            "coalesce(ref.rc, 0) AS rc, rtot.rt, sn.s "
            "FROM ctot CROSS JOIN spine "
            "LEFT JOIN h ON h.hour_start = ctot.hour_start "
            "AND h.bin_id = spine.bin_id "
            "LEFT JOIN ref ON ref.bin_id = spine.bin_id "
            "CROSS JOIN rtot CROSS JOIN sn) "
            "SELECT hour_start, round(CAST(sum(CAST(round("
            "((cc + 1) / (ct + s) - (rc + 1) / (rt + s)) * "
            "ln(((cc + 1) / (ct + s)) / ((rc + 1) / (rt + s))), 6) "
            "AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi "
            "FROM terms GROUP BY hour_start"
        ),
        "sqlite_scan_diff": (
            # The sqlite side is a deterministic mutation of customer
            # (drop %103 keys, rename %101 keys), so the oracle recomputes
            # it relationally and takes the symmetric set difference — the
            # same rows the engine's hash diff must surface.
            "WITH export AS (SELECT c_custkey, "
            "CASE WHEN c_custkey % 101 = 0 THEN 'SQLITE#' || "
            "CAST(c_custkey AS VARCHAR) ELSE c_name END AS c_name, "
            "c_nationkey, c_mktsegment FROM customer "
            "WHERE c_custkey % 103 != 0), "
            "truth AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment "
            "FROM customer) "
            "SELECT c_custkey, c_name, 'truth' AS observed_in FROM "
            "(SELECT * FROM truth EXCEPT SELECT * FROM export) "
            "UNION ALL "
            "SELECT c_custkey, c_name, 'export' AS observed_in FROM "
            "(SELECT * FROM export EXCEPT SELECT * FROM truth)"
        ),
        "token_chunk_plan": (
            "WITH toks AS (SELECT doc_id, "
            "CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), "
            "t -> t <> '')) AS BIGINT) AS n_tokens, "
            "substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            "AS sk FROM documents), "
            "offs AS (SELECT doc_id, n_tokens, "
            "CAST(coalesce(sum(n_tokens) OVER (ORDER BY sk, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS BIGINT) AS chunk_start FROM toks WHERE n_tokens > 0) "
            "SELECT doc_id, n_tokens, chunk_start, "
            "CAST(floor(chunk_start / 512) AS BIGINT) AS first_chunk, "
            "CAST(floor((chunk_start + n_tokens - 1) / 512) AS BIGINT) "
            "AS last_chunk FROM offs"
        ),
        "text_unigram_lm": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
            "FROM toks WHERE term <> '' GROUP BY doc_id, term), "
            "lm AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term), "
            "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM lm), "
            "lp AS (SELECT term, CAST(round(ln(c / tot.t), 6) "
            "AS DECIMAL(18,6)) AS lp FROM lm CROSS JOIN tot), "
            # avg replayed in exact integer micro-units (HALF_UP away
            # from zero via (2|s|+n)//(2n)) — round(double/n, 6) is not
            # engine-reproducible on exact .5e-6 boundaries.
            "s AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n, "
            "CAST(sum(tf.tf * lp.lp) * 1000000 AS BIGINT) AS sm "
            "FROM tf JOIN lp USING (term) GROUP BY tf.doc_id) "
            "SELECT doc_id, n AS n_tokens, "
            "CAST(CASE WHEN sm < 0 THEN -((2*abs(sm) + n) // (2*n)) "
            "ELSE (2*abs(sm) + n) // (2*n) END AS DOUBLE) / 1000000.0 "
            "AS avg_logprob FROM s"
        ),
        "chunk_manifest": (
            "WITH toks AS (SELECT doc_id, "
            "CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), "
            "t -> t <> '')) AS BIGINT) AS n_tokens, "
            "substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            "AS sk FROM documents), "
            "offs AS (SELECT doc_id, n_tokens, "
            "CAST(coalesce(sum(n_tokens) OVER (ORDER BY sk, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS BIGINT) AS chunk_start FROM toks WHERE n_tokens > 0), "
            "ex AS (SELECT doc_id, n_tokens, chunk_start, "
            "unnest(generate_series("
            "CAST(floor(chunk_start / 512) AS BIGINT), "
            "CAST(floor((chunk_start + n_tokens - 1) / 512) AS BIGINT))) "
            "AS chunk_id FROM offs) "
            "SELECT doc_id, chunk_id, "
            "CAST(greatest(chunk_start, chunk_id * 512) - chunk_start "
            "AS BIGINT) AS slice_start, "
            "CAST(least(chunk_start + n_tokens, (chunk_id + 1) * 512) "
            "- greatest(chunk_start, chunk_id * 512) AS BIGINT) "
            "AS slice_len FROM ex"
        ),
        "tfidf_top_terms": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
            "FROM toks WHERE term <> '' GROUP BY doc_id, term), "
            "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df "
            "FROM tf GROUP BY term), "
            "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents), "
            "scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, "
            "round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score "
            "FROM tf JOIN dfreq USING (term) CROSS JOIN n) "
            "SELECT doc_id, term, tf, df, score FROM scored "
            "QUALIFY row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, term ASC) <= 3"
        ),
        "dsir_weights": (
            # Replays the full DSIR chain: hashed unigram+bigram
            # featurization, add-lambda bucket models (target = lang
            # 'en'), decimal-exact per-doc log-ratio sums, and the
            # Gumbel top-k selected flag (same md5-uniform idiom as
            # weighted_sample).
            "WITH base AS (SELECT doc_id, lang, "
            "list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            "x -> x <> '') AS w FROM documents WHERE text IS NOT NULL), "
            "grams AS (SELECT doc_id, lang, "
            "unnest(list_concat(w, list_transform(range(1, len(w)), "
            "i -> w[i] || ' ' || w[i + 1]))) AS g FROM base), "
            "feat AS (SELECT doc_id, lang, "
            "CAST(CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT) % 4096 "
            "AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS tf "
            "FROM grams GROUP BY ALL), "
            "raw_c AS (SELECT bucket, sum(tf) AS rc FROM feat "
            "GROUP BY bucket), "
            "tgt_c AS (SELECT bucket, sum(tf) AS tc FROM feat "
            "WHERE lang = 'en' GROUP BY bucket), "
            "raw_t AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt FROM raw_c), "
            "tgt_t AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt FROM tgt_c), "
            "ratio AS (SELECT r.bucket, CAST(round("
            "ln((COALESCE(tg.tc, 0) + 0.5) / (tgt_t.tt + 0.5 * 4096)) - "
            "ln((r.rc + 0.5) / (raw_t.rt + 0.5 * 4096)), 6) "
            "AS DECIMAL(18,6)) AS lr FROM raw_c r "
            "LEFT JOIN tgt_c tg USING (bucket) "
            "CROSS JOIN raw_t CROSS JOIN tgt_t), "
            "wts AS (SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_grams, "
            "round(CAST(sum(f.tf * ratio.lr) AS DOUBLE), 6) AS weight "
            "FROM feat f JOIN ratio USING (bucket) GROUP BY f.doc_id), "
            "sel AS (SELECT doc_id FROM (SELECT doc_id, round(weight + "
            "(-ln(-ln((CAST('0x' || substr(md5('dsir:' || "
            "CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) + 1) "
            "/ 4294967297.0))), 6) AS key FROM wts) "
            "ORDER BY key DESC, doc_id ASC LIMIT 100) "
            "SELECT w.doc_id, w.n_grams, w.weight, "
            "(s.doc_id IS NOT NULL) AS selected "
            "FROM wts w LEFT JOIN sel s USING (doc_id)"
        ),
        "train_eval_split": (
            "SELECT doc_id, CASE WHEN "
            "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) "
            f"< '{_hex_threshold(0.1)}' THEN 'eval' ELSE 'train' END AS split "
            "FROM documents"
        ),
        "stratified_cap": (
            "SELECT doc_id, source FROM documents "
            "QUALIFY row_number() OVER (PARTITION BY source ORDER BY "
            "substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) "
            "<= 50"
        ),
        # The bloom-prefiltered path must be output-identical to the
        # exact path (no false negatives), so it shares the exact
        # containment oracle — the hash match IS the claim.
        "contamination_bloom": _CONTAM_SQL,
        "length_quantiles": (
            "SELECT lang, "
            "round(quantile_cont(n_chars, 0.25), 6) AS p25, "
            "round(quantile_cont(n_chars, 0.50), 6) AS p50, "
            "round(quantile_cont(n_chars, 0.75), 6) AS p75, "
            "round(quantile_cont(n_chars, 0.95), 6) AS p95 "
            "FROM documents GROUP BY lang"
        ),
        "curate_corpus": _CURATE_SQL,
        "training_plan": _TRAINING_PLAN_SQL,
        "ann_cosine_topk": _ANN_COSINE_SQL,
        "ann_ivf_topk": _ann_ivf_sql(),
        "ann_pq_topk": _ann_pq_sql(),
        "ann_ivfpq_topk": _ann_ivfpq_sql(),
        "ann_ivfpq_residual_topk": _ann_ivfpq_residual_sql(),
        "ann_sq8_topk": _ann_sq8_sql(),
        "bm25_topk": _bm25_sql(),
        "text_bigram_lm": _TEXT_BIGRAM_LM_SQL,
        "gopher_rules": _GOPHER_RULES_SQL,
        "token_windows": _TOKEN_WINDOWS_SQL,
        "events_funnel": """WITH s0 AS (SELECT user_id, min(ts) AS rts FROM events WHERE event_type = 'view' GROUP BY user_id), s1 AS (SELECT e.user_id, min(e.ts) AS rts FROM events e JOIN s0 USING (user_id) WHERE e.event_type = 'click' AND e.ts > s0.rts GROUP BY e.user_id), s2 AS (SELECT e.user_id, min(e.ts) AS rts FROM events e JOIN s1 USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > s1.rts GROUP BY e.user_id) SELECT 0 AS step_index, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s0 UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1 UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2""",
        # Independent formulation: EXISTS-chain over per-step distinct
        # event sets vs the union+running-max DP — same reachable sets.
        "events_funnel_windowed": (
            "WITH s0 AS (SELECT DISTINCT user_id, ts FROM events "
            "WHERE event_type = 'view'), "
            "s1 AS (SELECT DISTINCT e.user_id, e.ts FROM events e "
            "WHERE e.event_type = 'click' AND EXISTS ("
            "SELECT 1 FROM s0 p WHERE p.user_id = e.user_id "
            "AND p.ts < e.ts AND e.ts <= p.ts + to_seconds(21600))), "
            "s2 AS (SELECT DISTINCT e.user_id, e.ts FROM events e "
            "WHERE e.event_type = 'purchase' AND EXISTS ("
            "SELECT 1 FROM s1 p WHERE p.user_id = e.user_id "
            "AND p.ts < e.ts AND e.ts <= p.ts + to_seconds(21600))) "
            "SELECT 0 AS step_index, 'view' AS step, "
            "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM s0 "
            "UNION ALL SELECT 1, 'click', "
            "CAST(count(DISTINCT user_id) AS BIGINT) FROM s1 "
            "UNION ALL SELECT 2, 'purchase', "
            "CAST(count(DISTINCT user_id) AS BIGINT) FROM s2"
        ),
        # Mirrors the operator's tolerance exactly: invalid-JSON / NULL /
        # non-object rows contribute nothing; dotted keys use a quoted
        # path; json_extract_string reproduces the map<string,string>
        # value coercion (number 1 ≡ string "1", json null → SQL NULL).
        # FIXTURE CONTRACT (testdata events.props): keys contain no
        # double-quote characters (the quoted '$."k"' path cannot escape
        # them) and values are SCALAR JSON types only — Spark's
        # map<string,string> rendering of nested objects/arrays differs
        # in whitespace from DuckDB's json_extract_string, so a nested
        # value would hash-mismatch despite equal semantics. Both hold
        # for the generated testdata; revisit if props gains nesting.
        "json_key_stats": (
            "WITH ks AS (SELECT props, "
            "unnest(json_keys(CAST(props AS JSON))) AS key FROM events "
            "WHERE props IS NOT NULL AND json_valid(props) "
            "AND json_type(CAST(props AS JSON)) = 'OBJECT'), "
            "kv AS (SELECT key, json_extract_string(CAST(props AS JSON), "
            "'$.\"' || key || '\"') AS v FROM ks) "
            "SELECT key, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_nulls, "
            "CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_values "
            "FROM kv GROUP BY key"
        ),
        # The approx face's accuracy contract: exact replay + literal
        # TRUE — the Spark side computes within_bound from the HLL
        # estimate, so a >5% drift on any day hash-mismatches.
        # The distinct-rollup accuracy contract (r14): exact hourly
        # replay + literal TRUE — the Spark side derives within_bound
        # from the merged minute-HLL estimate, so any hour whose
        # estimate drifts past 5% of exact hash-mismatches.
        "rollup_distinct_users": (
            "SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket, "
            "CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct, "
            "TRUE AS within_bound FROM events GROUP BY 1"
        ),
        "rolling_active_users_bound": (
            "WITH ud AS (SELECT DISTINCT user_id, "
            "CAST(date_trunc('day', ts) AS DATE) AS d FROM events), "
            "mx AS (SELECT max(d) AS mx FROM ud), "
            "exp AS (SELECT user_id, d + CAST(k AS INTEGER) AS day "
            "FROM ud, unnest(range(0, 7)) AS u(k)), "
            "cov AS (SELECT DISTINCT user_id, day FROM exp, mx "
            "WHERE day <= mx) "
            "SELECT CAST(day AS VARCHAR) AS day, "
            "CAST(count(*) AS BIGINT) AS n_active, "
            "TRUE AS within_bound FROM cov GROUP BY 1"
        ),
        "events_retention": """WITH act AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events GROUP BY 1, 2), firstd AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1), sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM firstd GROUP BY 1), ret AS (SELECT f.cohort, CAST(a.d - f.cohort AS BIGINT) AS offset_days, CAST(count(*) AS BIGINT) AS n_active FROM act a JOIN firstd f USING (user_id) GROUP BY 1, 2) SELECT CAST(r.cohort AS VARCHAR) AS cohort_day, offset_days, n_active, cohort_size FROM ret r JOIN sizes USING (cohort)""",
        "profile_drift": """WITH db2 AS (SELECT * FROM customer WHERE c_custkey % 97 != 0), p1 AS (SELECT * FROM (VALUES ('c_custkey', (SELECT CAST(count(c_custkey) AS BIGINT) FROM customer), (SELECT CAST(count(*) - count(c_custkey) AS BIGINT) FROM customer), (SELECT CAST(min(c_custkey) AS DOUBLE) FROM customer), (SELECT CAST(max(c_custkey) AS DOUBLE) FROM customer)), ('c_name', (SELECT CAST(count(c_name) AS BIGINT) FROM customer), (SELECT CAST(count(*) - count(c_name) AS BIGINT) FROM customer), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)), ('c_nationkey', (SELECT CAST(count(c_nationkey) AS BIGINT) FROM customer), (SELECT CAST(count(*) - count(c_nationkey) AS BIGINT) FROM customer), (SELECT CAST(min(c_nationkey) AS DOUBLE) FROM customer), (SELECT CAST(max(c_nationkey) AS DOUBLE) FROM customer)), ('c_acctbal', (SELECT CAST(count(c_acctbal) AS BIGINT) FROM customer), (SELECT CAST(count(*) - count(c_acctbal) AS BIGINT) FROM customer), (SELECT CAST(min(c_acctbal) AS DOUBLE) FROM customer), (SELECT CAST(max(c_acctbal) AS DOUBLE) FROM customer)), ('c_mktsegment', (SELECT CAST(count(c_mktsegment) AS BIGINT) FROM customer), (SELECT CAST(count(*) - count(c_mktsegment) AS BIGINT) FROM customer), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))) v(column_name, n_nonnull_1, n_null_1, min_val_1, max_val_1)), p2 AS (SELECT * FROM (VALUES ('c_custkey', (SELECT CAST(count(c_custkey) AS BIGINT) FROM db2), (SELECT CAST(count(*) - count(c_custkey) AS BIGINT) FROM db2), (SELECT CAST(min(c_custkey) AS DOUBLE) FROM db2), (SELECT CAST(max(c_custkey) AS DOUBLE) FROM db2)), ('c_name', (SELECT CAST(count(c_name) AS BIGINT) FROM db2), (SELECT CAST(count(*) - count(c_name) AS BIGINT) FROM db2), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)), ('c_nationkey', (SELECT CAST(count(c_nationkey) AS BIGINT) FROM db2), (SELECT CAST(count(*) - count(c_nationkey) AS BIGINT) FROM db2), (SELECT CAST(min(c_nationkey) AS DOUBLE) FROM db2), (SELECT CAST(max(c_nationkey) AS DOUBLE) FROM db2)), ('c_acctbal', (SELECT CAST(count(c_acctbal) AS BIGINT) FROM db2), (SELECT CAST(count(*) - count(c_acctbal) AS BIGINT) FROM db2), (SELECT CAST(min(c_acctbal) AS DOUBLE) FROM db2), (SELECT CAST(max(c_acctbal) AS DOUBLE) FROM db2)), ('c_mktsegment', (SELECT CAST(count(c_mktsegment) AS BIGINT) FROM db2), (SELECT CAST(count(*) - count(c_mktsegment) AS BIGINT) FROM db2), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))) v(column_name, n_nonnull_2, n_null_2, min_val_2, max_val_2)) SELECT p1.column_name, n_nonnull_1, n_null_1, min_val_1, max_val_1, n_nonnull_2, n_null_2, min_val_2, max_val_2 FROM p1 JOIN p2 USING (column_name) WHERE n_nonnull_1 IS DISTINCT FROM n_nonnull_2 OR n_null_1 IS DISTINCT FROM n_null_2 OR min_val_1 IS DISTINCT FROM min_val_2 OR max_val_1 IS DISTINCT FROM max_val_2""",
        "psi_drift": """WITH db2 AS (SELECT c_custkey, CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal FROM customer), spine AS (SELECT unnest(generate_series(0, 9)) AS bin_id), b1 AS (SELECT least(greatest(CAST(floor((CAST(c_acctbal AS DOUBLE) - 0.0) / 1000.0) AS BIGINT), 0), 9) AS bin_id, count(*) AS c1 FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1), b2 AS (SELECT least(greatest(CAST(floor((CAST(c_acctbal AS DOUBLE) - 0.0) / 1000.0) AS BIGINT), 0), 9) AS bin_id, count(*) AS c2 FROM db2 WHERE c_acctbal IS NOT NULL GROUP BY 1), counts AS (SELECT CAST(spine.bin_id AS BIGINT) AS bin_id, CAST(coalesce(c1, 0) AS BIGINT) AS n_1, CAST(coalesce(c2, 0) AS BIGINT) AS n_2 FROM spine LEFT JOIN b1 ON b1.bin_id = spine.bin_id LEFT JOIN b2 ON b2.bin_id = spine.bin_id), tot AS (SELECT sum(n_1) AS t1, sum(n_2) AS t2 FROM counts) SELECT bin_id, 0.0 + bin_id * 1000.0 AS lo_edge, 0.0 + (bin_id + 1) * 1000.0 AS hi_edge, n_1, n_2, round(((n_1 + 1) / (t1 + 10) - (n_2 + 1) / (t2 + 10)) * ln(((n_1 + 1) / (t1 + 10)) / ((n_2 + 1) / (t2 + 10))), 6) AS psi_term FROM counts CROSS JOIN tot""",
        "keyed_diff": """WITH db2 AS (SELECT c_custkey, c_name, c_nationkey, CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 97 != 0), changed AS (SELECT a.c_custkey, 'c_acctbal' AS column_name, CAST(a.c_acctbal AS VARCHAR) AS db1_value, CAST(b.c_acctbal AS VARCHAR) AS db2_value FROM customer a JOIN db2 b USING (c_custkey) WHERE CAST(a.c_acctbal AS VARCHAR) IS DISTINCT FROM CAST(b.c_acctbal AS VARCHAR) UNION ALL SELECT a.c_custkey, 'c_mktsegment' AS column_name, CAST(a.c_mktsegment AS VARCHAR) AS db1_value, CAST(b.c_mktsegment AS VARCHAR) AS db2_value FROM customer a JOIN db2 b USING (c_custkey) WHERE CAST(a.c_mktsegment AS VARCHAR) IS DISTINCT FROM CAST(b.c_mktsegment AS VARCHAR) UNION ALL SELECT a.c_custkey, 'c_name' AS column_name, CAST(a.c_name AS VARCHAR) AS db1_value, CAST(b.c_name AS VARCHAR) AS db2_value FROM customer a JOIN db2 b USING (c_custkey) WHERE CAST(a.c_name AS VARCHAR) IS DISTINCT FROM CAST(b.c_name AS VARCHAR) UNION ALL SELECT a.c_custkey, 'c_nationkey' AS column_name, CAST(a.c_nationkey AS VARCHAR) AS db1_value, CAST(b.c_nationkey AS VARCHAR) AS db2_value FROM customer a JOIN db2 b USING (c_custkey) WHERE CAST(a.c_nationkey AS VARCHAR) IS DISTINCT FROM CAST(b.c_nationkey AS VARCHAR)), onlyrows AS (SELECT a.c_custkey, '__row__' AS column_name, 'db1' AS db1_value, CAST(NULL AS VARCHAR) AS db2_value FROM customer a LEFT JOIN db2 b USING (c_custkey) WHERE b.c_custkey IS NULL UNION ALL SELECT b.c_custkey, '__row__', CAST(NULL AS VARCHAR), 'db2' FROM db2 b LEFT JOIN customer a USING (c_custkey) WHERE a.c_custkey IS NULL) SELECT * FROM changed UNION ALL SELECT * FROM onlyrows""",
        "events_value_hist": """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0) / 50.0) AS BIGINT), 0), 4) AS bin_id, CAST(count(*) AS BIGINT) AS n FROM events WHERE value IS NOT NULL GROUP BY 1, 2""",
        "zorder_codes": """SELECT event_id, ((((qv >> 0) & 1) << 0) + (((qv >> 1) & 1) << 2) + (((qv >> 2) & 1) << 4) + (((qv >> 3) & 1) << 6) + (((qv >> 4) & 1) << 8) + (((qv >> 5) & 1) << 10) + (((qv >> 6) & 1) << 12) + (((qv >> 7) & 1) << 14) + (((qv >> 8) & 1) << 16) + (((qv >> 9) & 1) << 18) + (((qv >> 10) & 1) << 20) + (((qv >> 11) & 1) << 22) + (((qv >> 12) & 1) << 24) + (((qv >> 13) & 1) << 26) + (((qv >> 14) & 1) << 28) + (((qv >> 15) & 1) << 30)) + ((((qu >> 0) & 1) << 1) + (((qu >> 1) & 1) << 3) + (((qu >> 2) & 1) << 5) + (((qu >> 3) & 1) << 7) + (((qu >> 4) & 1) << 9) + (((qu >> 5) & 1) << 11) + (((qu >> 6) & 1) << 13) + (((qu >> 7) & 1) << 15) + (((qu >> 8) & 1) << 17) + (((qu >> 9) & 1) << 19) + (((qu >> 10) & 1) << 21) + (((qu >> 11) & 1) << 23) + (((qu >> 12) & 1) << 25) + (((qu >> 13) & 1) << 27) + (((qu >> 14) & 1) << 29) + (((qu >> 15) & 1) << 31)) AS zval FROM (SELECT event_id, least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0) / 250.0 * 65535) AS BIGINT), 0), 65535) AS qv, least(greatest(CAST(floor((CAST(user_id AS DOUBLE) - 0.0) / 2000.0 * 65535) AS BIGINT), 0), 65535) AS qu FROM events)""",
        "event_transitions": (
            "WITH seq AS (SELECT event_type AS from_type, "
            "lead(event_type) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS to_type FROM events) "
            "SELECT from_type, to_type, "
            "CAST(count(*) AS BIGINT) AS n_transitions "
            "FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2"
        ),
        "path_signatures": (
            "WITH ranked AS (SELECT user_id, event_type, "
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS rn FROM events), "
            "p AS (SELECT user_id, "
            "string_agg(event_type, '>' ORDER BY rn) AS path "
            "FROM ranked WHERE rn <= 5 GROUP BY user_id) "
            "SELECT path, CAST(count(*) AS BIGINT) AS n_users "
            "FROM p GROUP BY path"
        ),
        # Same exact-integer-sum formula, same operation order: the z
        # doubles agree bit-for-bit; round(6) is belt-and-braces.
        "rollup_anomaly": (
            "WITH hourly AS (SELECT event_type, "
            "CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, "
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
            "st AS (SELECT event_type, hour_start, n, "
            "sum(n) OVER w AS s, sum(n*n) OVER w AS ss, "
            "count(n) OVER w AS c FROM hourly WINDOW w AS ("
            "PARTITION BY event_type ORDER BY hour_start "
            "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), "
            "scored AS (SELECT event_type, "
            "CAST(hour_start AS VARCHAR) AS hour_start, n, "
            "CASE WHEN c >= 8 AND CAST(ss*c - s*s AS DOUBLE)/(c*(c - 1)) > 0 "
            "THEN round((n - s/c) / sqrt(CAST(ss*c - s*s AS DOUBLE)/(c*(c - 1))), 6) "
            "END AS z FROM st) "
            "SELECT event_type, hour_start, n, z, "
            "(z IS NOT NULL AND abs(z) > 3.0) AS is_anomaly FROM scored"
        ),
        "events_session_agg": _SESSION_SQL,
        "skew_two_phase_agg": (
            "SELECT l_suppkey, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_qty, "
            "CAST(count(l_quantity) AS BIGINT) AS n_items "
            "FROM lineitem GROUP BY l_suppkey"
        ),
        "skew_salted_join": (
            "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_nationkey"
        ),
        "drift_static_batch": (
            f"WITH m AS ({_CUSTOMER_VALUE_CHANGE_SQL}) "
            "SELECT m.c_custkey, CAST(m.c_acctbal AS DOUBLE) AS c_acctbal "
            "FROM m WHERE NOT EXISTS ("
            "  SELECT 1 FROM customer r WHERE "
            "  r.c_custkey IS NOT DISTINCT FROM m.c_custkey AND "
            "  r.c_name IS NOT DISTINCT FROM m.c_name AND "
            "  r.c_nationkey IS NOT DISTINCT FROM m.c_nationkey AND "
            "  r.c_acctbal IS NOT DISTINCT FROM m.c_acctbal AND "
            "  r.c_mktsegment IS NOT DISTINCT FROM m.c_mktsegment)"
        ),
        "events_key_stats": (
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(CAST(min(ts) AS TIMESTAMP) AS VARCHAR) AS first_ts, "
            "CAST(CAST(max(ts) AS TIMESTAMP) AS VARCHAR) AS last_ts "
            "FROM events GROUP BY user_id"
        ),
        # The fixture cycles all eight container/tier pairs by doc_id,
        # so tier counts are pure doc_id arithmetic; the Spark side
        # actually runs every parser + decoder per payload.
        "decode_tier_counts": _DECODE_TIER_SQL,
        # Info fields derive from doc_id (UTF-16BE hex Title on every
        # 5th doc; Subject absent off multiples of 3) — pure
        # arithmetic replay.
        "pdf_metadata": _PDF_METADATA_SQL,
        # The Spark side builds a real P6 PPM per doc and header-parses it
        # back; the oracle recomputes the encoded dimensions directly, so a
        # hash match proves the decode round-trip.
        "multimodal_decode": (
            "SELECT doc_id AS media_id, "
            "CAST(CASE WHEN doc_id % 6 = 4 THEN doc_id % 19 + 1 "
            "ELSE doc_id % 13 + 1 END AS INTEGER) AS width, "
            "CAST(CASE WHEN doc_id % 6 = 4 THEN doc_id % 11 + 1 "
            "ELSE doc_id % 7 + 1 END AS INTEGER) AS height, "
            "CASE WHEN doc_id % 6 = 4 THEN 'SVG' ELSE 'RGB' END "
            "AS mode FROM documents"
        ),
        # ASCII corpus ⇒ ord(char) == utf-8 byte; the 16-bin integer
        # histogram matches the Arrow kernel's np.bincount exactly.
        # Resize replay: target pixel (x, y) of the 4x2 output samples
        # source pixel (x*w//4, y*h//2); t in 0..7 linearizes (y, x) as
        # (t//4, t%4). Same byte indexing/luma/binning as above on the
        # SAMPLED pixels — value-checks decode → nearest-neighbor
        # resample → re-encode → feature end-to-end.
        "multimodal_resize_hist": (
            "WITH base AS (SELECT doc_id AS media_id, "
            "CAST(doc_id % 5 + 2 AS INT) AS w, "
            "CAST(doc_id % 3 + 1 AS INT) AS h, "
            "rpad(coalesce(text, ''), "
            "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
            "AS px FROM documents), "
            "lum AS (SELECT media_id, list_transform(range(0, 8), "
            "t -> (299 * ord(substr(px, "
            "3 * (((t // 4) * h // 2) * w + ((t % 4) * w // 4)) + 1, 1)) "
            "+ 587 * ord(substr(px, "
            "3 * (((t // 4) * h // 2) * w + ((t % 4) * w // 4)) + 2, 1)) "
            "+ 114 * ord(substr(px, "
            "3 * (((t // 4) * h // 2) * w + ((t % 4) * w // 4)) + 3, 1))"
            ") // 1000) AS lumas FROM base) "
            "SELECT media_id, 'luma' AS kind, "
            "array_to_string(list_transform(range(0, 16), b -> "
            "CAST(len(list_filter(lumas, l -> l * 16 // 256 = b)) "
            "AS VARCHAR)), ',') AS hist FROM lum"
        ),
        # Exact token matching against the shared term tuple; DuckDB's
        # list_intersect dedupes and list_sort is ascending — the same
        # semantics as Spark's array_intersect/array_sort.
        "blocklist_filter": (
            "WITH w AS (SELECT doc_id, "
            "list_filter(string_split_regex(trim(lower(coalesce(text, "
            "''))), '\\s+'), x -> x <> '') AS w FROM documents) "
            "SELECT doc_id, "
            f"CAST(len(list_filter(w, x -> list_contains({_BL_SQL}, x))) "
            "AS BIGINT) AS n_hits, "
            # array_to_string([]) is NULL in DuckDB (Spark: ''), coalesce
            f"coalesce(array_to_string(list_sort(list_intersect(w, "
            f"{_BL_SQL})), ','), '') AS hit_terms, "
            f"len(list_filter(w, x -> list_contains({_BL_SQL}, x))) > 0 "
            "AS blocked FROM w"
        ),
        "prototypicality_prune": _proto_prune_sql(),
        # Full sketch replay: same md5 bucket hash (first-8-hex idiom),
        # same integer counters, same min-estimate — the no_undercount
        # flag is computed, not asserted.
        "cms_term_counts": (
            "WITH tok AS (SELECT unnest(list_filter(string_split_regex("
            "trim(lower(coalesce(text, ''))), '\\s+'), x -> x <> '')) "
            "AS term FROM documents), "
            "rows(row) AS (VALUES (0), (1), (2), (3)), "
            "cells AS (SELECT r.row, CAST('0x' || substr(md5("
            "CAST(r.row AS VARCHAR) || ':' || t.term), 1, 8) AS BIGINT) "
            "% 1024 AS bucket FROM tok t, rows r), "
            "sk AS (SELECT row, bucket, count(*) AS cnt FROM cells "
            "GROUP BY row, bucket), "
            "cand AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt "
            "FROM tok GROUP BY term "
            "ORDER BY count(*) DESC, term ASC LIMIT 20), "
            "probes AS (SELECT c.term, c.exact_cnt, r.row, "
            "CAST('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || "
            "c.term), 1, 8) AS BIGINT) % 1024 AS bucket "
            "FROM cand c, rows r), "
            "est AS (SELECT term, exact_cnt, "
            "CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est "
            "FROM probes LEFT JOIN sk USING (row, bucket) "
            "GROUP BY term, exact_cnt) "
            "SELECT term, exact_cnt, est, est >= exact_cnt "
            "AS no_undercount FROM est"
        ),
        # The noisy fixture rebuilt with chr(); the five normalization
        # regexes replayed with the 'g' flag (DuckDB replaces only the
        # first match by default).
        "text_normalize": (
            "WITH noisy AS (SELECT doc_id, '  ' || "
            "replace(coalesce(text, ''), ' ', '  ') || chr(9) || "
            "chr(13) || chr(10) || chr(7) || 'x' AS text "
            "FROM documents), "
            "n AS (SELECT doc_id, text, regexp_replace(regexp_replace("
            "regexp_replace(regexp_replace(regexp_replace(text, "
            "'\\r\\n?', chr(10), 'g'), "
            "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
            "'[ \\t]+', ' ', 'g'), "
            "'\\n{3,}', chr(10) || chr(10), 'g'), "
            "'^[ \\t\\n]+|[ \\t\\n]+$', '', 'g') AS norm FROM noisy) "
            "SELECT doc_id, norm AS text, "
            "CAST(len(text) - len(norm) AS BIGINT) AS n_chars_removed "
            "FROM n"
        ),
        # Full Bloom replay: same md5 bit positions, same 32-bit word
        # packing (bit_or of 1 << pos%32), same all-bits-set membership
        # check — present is computed per term in BOTH engines, so the
        # collision pattern and the guarantee are value-checked.
        "bloom_membership": (
            "WITH tok AS (SELECT unnest(list_filter(string_split_regex("
            "trim(lower(coalesce(text, ''))), '\\s+'), x -> x <> '')) "
            "AS term FROM documents), "
            "hashes(d) AS (VALUES (0), (1), (2), (3)), "
            "pos AS (SELECT CAST('0x' || substr(md5("
            "CAST(h.d AS VARCHAR) || ':' || t.term), 1, 8) AS BIGINT) "
            "% 8192 AS pos FROM tok t, hashes h), "
            "bloom AS (SELECT pos // 32 AS word, "
            "bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits "
            "FROM pos GROUP BY pos // 32), "
            "present_terms AS (SELECT term, true AS in_stream "
            "FROM (SELECT term, count(*) AS c FROM tok GROUP BY term "
            "ORDER BY c DESC, term ASC LIMIT 10)), "
            "absent_terms AS (SELECT 'notaword' || CAST(i AS VARCHAR) "
            "AS term, false AS in_stream FROM range(10) t(i)), "
            "probe AS (SELECT * FROM present_terms "
            "UNION ALL SELECT * FROM absent_terms), "
            "ppos AS (SELECT p.term, p.in_stream, "
            "CAST('0x' || substr(md5(CAST(h.d AS VARCHAR) || ':' || "
            "p.term), 1, 8) AS BIGINT) % 8192 AS pos "
            "FROM probe p, hashes h), "
            "checked AS (SELECT term, in_stream, "
            "min(CASE WHEN coalesce(b.bits, 0) & "
            "(1::BIGINT << CAST(pos % 32 AS INT)) <> 0 "
            "THEN 1 ELSE 0 END) = 1 AS present "
            "FROM ppos LEFT JOIN bloom b ON pos // 32 = b.word "
            "GROUP BY term, in_stream) "
            "SELECT term, present, in_stream, "
            "(NOT in_stream) OR present AS no_false_negative "
            "FROM checked"
        ),
        "text_winnow_fp": _WINNOW_SQL,
        # ratios replayed as exact integer micro-units (the gopher/_LM
        # hardening): round(double, 6) flips engines on .5e-6 boundaries
        "text_repetition": (
            "WITH lines AS (SELECT doc_id, "
            "CAST(len(str_split(text, chr(10))) AS BIGINT) AS nl, "
            "CAST(len(str_split(text, chr(10))) "
            "- len(list_distinct(str_split(text, chr(10)))) AS BIGINT) "
            "AS ndup FROM documents), "
            f"tok AS (SELECT doc_id, {_TOKS} AS a FROM documents), "
            "grams AS (SELECT doc_id, unnest(list_transform("
            "range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS gram "
            "FROM tok), "
            "gc AS (SELECT doc_id, gram, count(*) AS c FROM grams "
            "GROUP BY doc_id, gram), "
            "agg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c, "
            "CAST(sum(c) AS BIGINT) AS tot_c FROM gc GROUP BY doc_id) "
            "SELECT l.doc_id, l.nl AS n_lines, "
            "CAST((2 * ndup * 1000000 + greatest(nl, 1)) "
            "// (2 * greatest(nl, 1)) AS DOUBLE) / 1000000.0 "
            "AS dup_line_frac, "
            "CAST((2 * coalesce(top_c, 0) * 1000000 "
            "+ greatest(coalesce(tot_c, 0), 1)) "
            "// (2 * greatest(coalesce(tot_c, 0), 1)) AS DOUBLE) "
            "/ 1000000.0 AS top_bigram_frac "
            "FROM lines l LEFT JOIN agg USING (doc_id)"
        ),
        "text_pii_scrub": (
            "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace("
            "text || ' contact user' || doc_id || '@example.com from 10.0.'"
            " || (doc_id % 256) || '.7 call +1 555 01' || (doc_id % 89) "
            "|| '9', "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g'), "
            r"'\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'), "
            r"'\+?\d[\d()\- ]{6,}\d', '<PHONE>', 'g') AS text "
            "FROM documents"
        ),
        "dedup_embedding": _embedding_lsh_sql(),
        "dedup_semantic": _dedup_semantic_sql(),
        # each delivered-twice event comes back exactly once
        "streaming_dedup_batch": (
            "SELECT event_id, ts, user_id, event_type, value FROM events"
        ),
        "frame_sample_plan": (
            "WITH f AS (SELECT doc_id AS media_id, CAST(floor("
            "((doc_id % 97) * 37 + 50) / 100.0) + 1 AS INTEGER) AS n "
            "FROM documents) "
            "SELECT media_id, unnest(generate_series(0, n - 1, 10)) "
            "AS frame_idx FROM f"
        ),
        "custom_query_diff": _sym_except(
            "c_custkey, c_acctbal",
            "(SELECT c_custkey, c_acctbal FROM customer)",
            f"(SELECT c_custkey, c_acctbal FROM ({_CUSTOMER_VALUE_CHANGE_SQL}))",
        ),
    }
    # The incremental rollup must serve the SAME hours the batch rollup
    # does — one oracle, two execution paths.
    # The PNG luma face: pixel content is the doc's own text (rpad to
    # w*h*3 ASCII bytes, w=doc_id%5+2, h=doc_id%3+1), so the oracle
    # indexes the same bytes with substr/ord, replays the integer
    # BT.601 luma ((299R+587G+114B)//1000) and the luma*16//256
    # binning, and emits the literal kind='luma' — the PNG
    # encode→inflate→unfilter round trip must reproduce it, and a
    # fallback (bytes) row on the Spark side would hash-mismatch.
    # (Until the r13 consolidation this SQL was the multimodal_luma_hist
    # row, which the PNG face shared verbatim; the P6 luma chain stays
    # pinned by multimodal_resize_hist's decode→resample→luma replay.)
    oracles["multimodal_png_luma_hist"] = (
        "WITH base AS (SELECT doc_id AS media_id, "
        "CAST(doc_id % 5 + 2 AS INT) AS w, "
        "CAST(doc_id % 3 + 1 AS INT) AS h, "
        "rpad(coalesce(text, ''), "
        "CAST((doc_id % 5 + 2) * (doc_id % 3 + 1) * 3 AS INT), 'x') "
        "AS px FROM documents), "
        "lum AS (SELECT media_id, list_transform(range(0, w * h), "
        "i -> (299 * ord(substr(px, 3 * i + 1, 1)) "
        "+ 587 * ord(substr(px, 3 * i + 2, 1)) "
        "+ 114 * ord(substr(px, 3 * i + 3, 1))) // 1000) AS lumas "
        "FROM base) "
        "SELECT media_id, 'luma' AS kind, "
        "array_to_string(list_transform(range(0, 16), b -> "
        "CAST(len(list_filter(lumas, l -> l * 16 // 256 = b)) "
        "AS VARCHAR)), ',') AS hist FROM lum"
    )
    # The JPEG luma face: constant 8×8 blocks (the exactly-lossless
    # pixel class of a lossy codec) — block b's gray is text byte b
    # (rpad 'x'), luma of gray g is exactly g ((299+587+114)·g//1000),
    # and each block contributes 64 pixels to its g*16//256 bin.
    oracles["multimodal_jpeg_luma_hist"] = (
        "WITH base AS (SELECT doc_id AS media_id, "
        "rpad(coalesce(text, ''), "
        "CAST((doc_id % 3 + 1) * (doc_id % 2 + 1) AS INT), 'x') AS px, "
        "CAST((doc_id % 3 + 1) * (doc_id % 2 + 1) AS INT) AS nb "
        "FROM documents), "
        "g AS (SELECT media_id, list_transform(range(0, nb), "
        "i -> ord(substr(px, i + 1, 1))) AS grays FROM base) "
        "SELECT media_id, 'luma' AS kind, "
        "array_to_string(list_transform(range(0, 16), b -> "
        "CAST(64 * len(list_filter(grays, v -> v * 16 // 256 = b)) "
        "AS VARCHAR)), ',') AS hist FROM g"
    )
    # The progressive face shares the baseline face's pixel source
    # (constant gray blocks from the same text bytes), so the oracle
    # is identical — only the Spark-side decode path differs.
    oracles["multimodal_jpeg_progressive_hist"] = oracles[
        "multimodal_jpeg_luma_hist"
    ]
    oracles["rollup_incremental"] = oracles["rollup_hourly"]
    # Histogram-quantile estimates: identical binning, cumulative walk,
    # and linear interpolation reproduced in SQL — the estimate is pure
    # arithmetic on counts, so both engines must agree to the rounded
    # sixth decimal.
    oracles["quantile_estimates"] = (
        "WITH h AS ("
        "  SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0)/5.0) AS BIGINT), 0), 49)"
        "    AS bin_id, CAST(count(*) AS BIGINT) AS n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1"
        "), spine AS (SELECT range AS bin_id FROM range(50)),"
        "c AS ("
        "  SELECT s.bin_id, COALESCE(h.n, 0) AS n,"
        "         SUM(COALESCE(h.n, 0)) OVER (ORDER BY s.bin_id) AS cum"
        "  FROM spine s LEFT JOIN h USING (bin_id)"
        "), t AS (SELECT SUM(n) AS total FROM c),"
        "qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) v(q)),"
        "pick AS ("
        "  SELECT q, MIN(c.bin_id) AS bin_id FROM qs, c, t"
        "  WHERE c.n > 0 AND c.cum >= q * t.total GROUP BY q"
        ") "
        "SELECT p.q, "
        "ROUND(0.0 + p.bin_id * 5.0 + ((p.q * t.total - (c.cum - c.n)) / c.n) * 5.0, 6)"
        "  AS est "
        "FROM pick p JOIN c ON p.bin_id = c.bin_id, t"
    )
    # Per-hour online quantiles: same binning/interpolation, grouped by
    # the landed window column.
    oracles["value_deciles"] = (
        "WITH h AS (SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0)/2.5)"
        " AS BIGINT), 0), 99) AS bin_id, CAST(count(*) AS BIGINT) AS n"
        " FROM events WHERE value IS NOT NULL GROUP BY 1),"
        "spine AS (SELECT r.range AS bin_id FROM range(100) r),"
        "c AS (SELECT s.bin_id, COALESCE(h.n, 0) AS n,"
        " SUM(COALESCE(h.n, 0)) OVER (ORDER BY s.bin_id) AS cum"
        " FROM spine s LEFT JOIN h USING (bin_id)),"
        "t AS (SELECT MAX(cum) AS total FROM c),"
        "qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.1),(0.2),"
        "(0.3),(0.4),(0.5),(0.6),(0.7),(0.8),(0.9)) v(q)),"
        "pick AS (SELECT q, MIN(c.bin_id) AS bin_id FROM qs, c, t"
        " WHERE c.n > 0 AND c.cum >= q * t.total GROUP BY q),"
        "bnd AS (SELECT ROUND(0.0 + p.bin_id * 2.5 +"
        " ((p.q * t.total - (c.cum - c.n)) / c.n) * 2.5, 6) AS est"
        " FROM pick p JOIN c ON c.bin_id = p.bin_id JOIN t ON true) "
        "SELECT event_id, value, CASE WHEN value IS NULL THEN NULL ELSE"
        " CAST(LEAST((SELECT count(*) FROM bnd WHERE value > bnd.est), 9)"
        " AS BIGINT) END AS bucket FROM events"
    )
    oracles["anomaly_online"] = (
        "WITH h AS ("
        "  SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR)"
        "    AS hour_start,"
        "  LEAST(GREATEST(CAST(FLOOR((value - 0.0)/50.0) AS BIGINT), 0), 4)"
        "    AS bin_id, CAST(count(*) AS BIGINT) AS n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2"
        "), st AS (SELECT bin_id, hour_start, n,"
        "  sum(n) OVER w AS s, sum(n*n) OVER w AS ss, count(n) OVER w AS c"
        "  FROM h WINDOW w AS (PARTITION BY bin_id ORDER BY hour_start"
        "  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)"
        "), scored AS (SELECT bin_id, hour_start, n,"
        "  CASE WHEN c >= 8 AND CAST(ss*c - s*s AS DOUBLE)/(c*(c - 1)) > 0"
        "  THEN round((n - s/c) / sqrt(CAST(ss*c - s*s AS DOUBLE)/(c*(c - 1))), 6) END AS z"
        "  FROM st) "
        "SELECT bin_id, hour_start, n, z,"
        " (z IS NOT NULL AND abs(z) > 3.0) AS is_anomaly FROM scored"
    )
    oracles["quantiles_online"] = (
        "WITH h AS ("
        "  SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR)"
        "    AS hour_start,"
        "  LEAST(GREATEST(CAST(FLOOR((value - 0.0)/50.0) AS BIGINT), 0), 4)"
        "    AS bin_id, CAST(count(*) AS BIGINT) AS n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2"
        "), groups AS (SELECT DISTINCT hour_start FROM h),"
        "spine AS (SELECT g.hour_start, r.range AS bin_id"
        "  FROM groups g, range(5) r),"
        "c AS ("
        "  SELECT s.hour_start, s.bin_id, COALESCE(h.n, 0) AS n,"
        "         SUM(COALESCE(h.n, 0)) OVER ("
        "           PARTITION BY s.hour_start ORDER BY s.bin_id) AS cum"
        "  FROM spine s LEFT JOIN h USING (hour_start, bin_id)"
        "), t AS (SELECT hour_start, SUM(n) AS total FROM c GROUP BY 1),"
        "qs AS (SELECT CAST(q AS DOUBLE) AS q "
        "FROM (VALUES (0.5),(0.9)) v(q)),"
        "pick AS ("
        "  SELECT c.hour_start, q, MIN(c.bin_id) AS bin_id"
        "  FROM qs, c JOIN t USING (hour_start)"
        "  WHERE c.n > 0 AND c.cum >= q * t.total GROUP BY 1, 2"
        ") "
        "SELECT p.hour_start, p.q, "
        "ROUND(0.0 + p.bin_id * 50.0 + "
        "((p.q * t.total - (c.cum - c.n)) / c.n) * 50.0, 6) AS est "
        "FROM pick p "
        "JOIN c ON p.hour_start = c.hour_start AND p.bin_id = c.bin_id "
        "JOIN t ON t.hour_start = p.hour_start"
    )
    # A-ES weighted sample: identical md5-derived uniforms and ln/w
    # priorities replayed in SQL; outputs are exact integers, ordering is
    # the only float-dependent step.
    oracles["weighted_sample"] = (
        "SELECT doc_id, n_chars FROM ("
        "  SELECT doc_id, n_chars,"
        "    ln((CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8)"
        "         AS UBIGINT) + 1) / 4294967297.0) / n_chars AS pri"
        "  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0"
        ") ORDER BY pri DESC, doc_id LIMIT 50"
    )
    # Gap-filled hourly rollup: per-series generate_series spine + LOCF
    # window, replayed in SQL.
    oracles["rollup_gapfill"] = (
        "WITH r AS ("
        "  SELECT date_trunc('hour', ts) AS b, event_type,"
        "         CAST(count(*) AS BIGINT) AS n,"
        "         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DECIMAL(27,6))"
        "           AS sum_value"
        "  FROM events GROUP BY 1, 2"
        "), bounds AS ("
        "  SELECT event_type, min(b) AS mn, max(b) AS mx FROM r GROUP BY 1"
        "), nums AS (SELECT range AS i FROM range(200000)),"
        "spine AS ("
        "  SELECT bo.event_type, bo.mn + i * INTERVAL 1 HOUR AS b"
        "  FROM bounds bo JOIN nums"
        "    ON bo.mn + i * INTERVAL 1 HOUR <= bo.mx"
        ") "
        "SELECT CAST(CAST(s.b AS TIMESTAMP) AS VARCHAR) AS bucket,"
        " s.event_type,"
        " CAST(COALESCE(r.n, 0) AS BIGINT) AS n,"
        " CAST(r.sum_value AS VARCHAR) AS sum_value,"
        " CAST(LAST_VALUE(r.sum_value IGNORE NULLS) OVER ("
        "   PARTITION BY s.event_type ORDER BY s.b) AS VARCHAR)"
        "   AS locf_sum_value,"
        " CAST(LAST_VALUE(r.n IGNORE NULLS) OVER ("
        "   PARTITION BY s.event_type ORDER BY s.b) AS BIGINT) AS locf_n "
        "FROM spine s LEFT JOIN r"
        "  ON s.event_type = r.event_type AND s.b = r.b"
    )
    # Time-weighted aggregation: identical LOCF segment durations via the
    # same (ts, event_id) ordering; decimal exact.
    oracles["twa_by_user"] = (
        "WITH s AS ("
        "  SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v,"
        "    date_diff('microsecond', ts, lead(ts) OVER ("
        "      PARTITION BY user_id ORDER BY ts, event_id)) AS dur"
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL"
        "    AND value IS NOT NULL"
        ") "
        "SELECT user_id,"
        " CAST(CAST(SUM(v * dur) AS DECIMAL(38,6)) AS VARCHAR) AS twa_num,"
        " CAST(COALESCE(SUM(dur), 0) AS BIGINT) AS dur_us,"
        " CAST(count(*) AS BIGINT) AS n_samples "
        "FROM s GROUP BY 1"
    )
    # The SQL-UDF diff surfaces exactly the value-changed ids from both
    # sides; the whitespace-only reformat of every other row must hash
    # identically and contribute nothing.
    oracles["sql_row_hash_diff"] = (
        "WITH ch AS (SELECT event_id FROM events WHERE event_id % 263 = 0) "
        "SELECT event_id, 'db1' AS observed_in FROM ch "
        "UNION ALL SELECT event_id, 'db2' AS observed_in FROM ch"
    )
    # Per-side json_key_stats replay (same extraction contract as the
    # json_key_stats oracle), full outer join on the key vocabulary,
    # keys with identical stats filtered out.
    _ks = (
        "SELECT key, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_nulls, "
        "CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_values FROM ("
        "SELECT key, json_extract_string(CAST(props AS JSON), "
        "'$.\"' || key || '\"') AS v FROM ("
        "SELECT props, unnest(json_keys(CAST(props AS JSON))) AS key "
        "FROM {side} WHERE props IS NOT NULL AND json_valid(props) "
        "AND json_type(CAST(props AS JSON)) = 'OBJECT')) GROUP BY key"
    )
    # Full replay of the 10-token line folding + corpus-wide line
    # dedup: chunk boundaries, the >=2 duplicate threshold, position-
    # filtered rebuild, and untouched-document passthrough must all
    # agree string-for-string.
    oracles["strip_dup_lines"] = (
        "WITH tk AS (SELECT doc_id, "
        f"list_filter({_TOKS}, t -> t <> '') AS tk FROM documents), "
        "ch AS (SELECT doc_id, i AS p, "
        "array_to_string(tk[(i*10+1):(i*10+10)], ' ') AS line "
        "FROM tk, unnest(range(0, CAST(ceil(len(tk)/10.0) AS BIGINT))) "
        "AS u(i)), "
        "dup AS (SELECT line FROM ch WHERE length(trim(line)) > 0 "
        "GROUP BY line HAVING count(*) >= 2), "
        "mk AS (SELECT ch.doc_id, ch.p, ch.line, "
        "(dup.line IS NOT NULL) AS rm "
        "FROM ch LEFT JOIN dup USING (line)), "
        "built AS (SELECT doc_id, "
        "coalesce(array_to_string(list(line ORDER BY p) "
        "FILTER (WHERE NOT rm), chr(10)), '') AS text, "
        "CAST(count(*) FILTER (WHERE rm) AS BIGINT) AS n_lines_removed "
        "FROM mk GROUP BY doc_id) "
        "SELECT d.doc_id, coalesce(b.text, '') AS text, "
        "coalesce(b.n_lines_removed, 0) AS n_lines_removed "
        "FROM documents d LEFT JOIN built b USING (doc_id)"
    )
    oracles["json_schema_drift"] = (
        "WITH s2 AS (SELECT CASE "
        "WHEN event_id % 151 = 0 THEN '{\"k\": ' || "
        "json_extract_string(props, '$.k') || ', \"extra\": 1}' "
        "WHEN event_id % 157 = 0 THEN '{}' "
        "ELSE props END AS props FROM events), "
        f"ks1 AS ({_ks.format(side='events')}), "
        f"ks2 AS ({_ks.format(side='s2')}) "
        "SELECT coalesce(ks1.key, ks2.key) AS key, "
        "CAST(coalesce(ks1.n_rows, 0) AS BIGINT) AS n_rows_1, "
        "CAST(coalesce(ks1.n_nulls, 0) AS BIGINT) AS n_nulls_1, "
        "CAST(coalesce(ks1.n_distinct_values, 0) AS BIGINT) "
        "AS n_distinct_values_1, "
        "CAST(coalesce(ks2.n_rows, 0) AS BIGINT) AS n_rows_2, "
        "CAST(coalesce(ks2.n_nulls, 0) AS BIGINT) AS n_nulls_2, "
        "CAST(coalesce(ks2.n_distinct_values, 0) AS BIGINT) "
        "AS n_distinct_values_2 "
        "FROM ks1 FULL OUTER JOIN ks2 ON ks1.key = ks2.key "
        "WHERE coalesce(ks1.n_rows, 0) != coalesce(ks2.n_rows, 0) "
        "OR coalesce(ks1.n_nulls, 0) != coalesce(ks2.n_nulls, 0) "
        "OR coalesce(ks1.n_distinct_values, 0) != "
        "coalesce(ks2.n_distinct_values, 0)"
    )
    # The ORC/CSV sides are deterministic relational mutations of
    # customer, so each oracle recomputes the export and takes the
    # symmetric set difference — the rows the engine's hash diff must
    # surface after the land-and-scan-back round trip.
    # Generated from _FILE_SCAN_SPECS — same spec object as the Spark
    # side, so mutation moduli/columns cannot drift between the pair.
    oracles["orc_scan_diff"] = _file_scan_oracle("orc")
    oracles["csv_scan_diff"] = _file_scan_oracle("csv")
    oracles["jsonl_scan_diff"] = _file_scan_oracle("jsonl")
    oracles["apply_bpe"] = _apply_bpe_oracle(8)
    oracles["bpe_fertility"] = _bpe_fertility_oracle(8)
    # Identical pairing semantics to range_join_views — the batch face
    # of the stream-stream interval join runs the same inequality join.
    oracles["interval_join_batch"] = (
        "SELECT v.event_id AS v_id, p.event_id AS p_id "
        "FROM events v JOIN events p "
        "ON v.user_id = p.user_id "
        "AND v.event_type = 'view' AND p.event_type = 'purchase' "
        "AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts"
    )
    return oracles


def _bpe_training_ctes(num_merges: int) -> list[str]:
    """The shared CTE chain replaying train_bpe: word histogram → per-round
    (pair histogram → argmax m{k}/am{k} → greedy fold rewrite v{k+1}) —
    ``num_merges`` is a FIXED depth, so the training loop unrolls into a
    chain of CTEs with the same lexicographic tie-break and the same
    greedy non-overlapping left-to-right fold as the operator.
    ``_apply_bpe_oracle`` extends the chain to tokenize documents with
    the learned merges (this replay carried the retired bpe_merges row's
    oracle verbatim, which is why that row could be consolidated)."""
    parts = [
        # v0: word histogram symbolized to chars + '</w>' (this CTE
        # also carried the retired bpe_pair_counts row's symbolization
        # verbatim — r13 consolidation — so round-0 pair statistics
        # stay value-checked through this chain).
        "WITH words AS (SELECT w AS word, count(*) AS freq FROM ("
        f"SELECT unnest({_TOKS}) AS w FROM documents) "
        "WHERE len(w) > 0 GROUP BY w), "
        "v0 AS (SELECT word, freq, "
        "list_append(list_transform(range(1, len(word) + 1), "
        "i -> word[i]), '</w>') AS syms FROM words)"
    ]
    for k in range(num_merges):
        parts.append(
            # positions zipped with symbols, plus the following symbol
            # MATERIALIZED: pn/am are referenced 2×/4× per round — DuckDB
            # would inline them, making the unrolled plan exponential in
            # num_merges (observed: fd exhaustion re-opening the parquet)
            f", pn{k} AS MATERIALIZED (SELECT word, freq, i, sym, "
            f"lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt FROM ("
            f"SELECT word, freq, unnest(range(1, len(syms) + 1)) AS i, "
            f"unnest(syms) AS sym FROM v{k}))"
            # weighted adjacent-pair histogram and this round's argmax
            f", am{k} AS MATERIALIZED (SELECT sym AS l, nxt AS r, "
            f"CAST(sum(freq) AS BIGINT) AS c FROM pn{k} "
            f"WHERE nxt IS NOT NULL GROUP BY 1, 2 "
            f"ORDER BY c DESC, l, r LIMIT 1)"
            f", m{k} AS (SELECT {k} AS rank, l AS \"left\", r AS \"right\", "
            f"c AS pair_count FROM am{k})"
            # greedy keep: islands of consecutive match positions take
            # every other match; a kept merge consumes position i+1
            f", g{k} AS (SELECT *, (sym = (SELECT l FROM am{k}) "
            f"AND nxt = (SELECT r FROM am{k})) AS pairm FROM pn{k})"
            f", h{k} AS (SELECT *, CASE WHEN pairm THEN i - ROW_NUMBER() "
            f"OVER (PARTITION BY word, pairm ORDER BY i) END AS isl "
            f"FROM g{k})"
            f", kp{k} AS (SELECT *, pairm AND ((ROW_NUMBER() OVER ("
            f"PARTITION BY word, isl ORDER BY i) - 1) % 2 = 0) AS keep "
            f"FROM h{k})"
            f", v{k + 1} AS (SELECT word, freq, "
            f"list(CASE WHEN keep THEN (SELECT l || r FROM am{k}) "
            f"ELSE sym END ORDER BY i) AS syms FROM ("
            f"SELECT *, COALESCE(LAG(keep) OVER ("
            f"PARTITION BY word ORDER BY i), false) AS consumed "
            f"FROM kp{k}) WHERE NOT consumed GROUP BY word, freq)"
        )
    return parts


def _bpe_fertility_oracle(num_merges: int) -> str:
    """Value oracle for bpe_fertility: replay training (the shared CTE
    chain), run the same delimiter-wrapped replace chain per word
    CARRYING (lang, word length), then aggregate counts per lang with
    the exact integer micro-unit ratios."""
    parts = _bpe_training_ctes(num_merges)
    parts.append(
        ", docw AS (SELECT lang, tk[i] AS w FROM ("
        f"SELECT lang, {_TOKS} AS tk FROM documents), "
        "unnest(range(1, len(tk) + 1)) AS u(i) WHERE tk[i] <> '')"
        ", f0 AS (SELECT lang, CAST(len(w) AS BIGINT) AS nc, "
        "chr(31) || array_to_string("
        "list_append(list_transform(range(1, len(w) + 1), j -> w[j]), "
        "'</w>'), chr(31) || chr(31)) || chr(31) AS s FROM docw)"
    )
    for k in range(num_merges):
        parts.append(
            f", f{k + 1} AS (SELECT lang, nc, COALESCE(replace(s, "
            f"chr(31) || (SELECT \"left\" FROM m{k}) || chr(31) || "
            f"chr(31) || (SELECT \"right\" FROM m{k}) || chr(31), "
            f"chr(31) || (SELECT \"left\" || \"right\" FROM m{k}) || "
            f"chr(31)), s) AS s FROM f{k})"
        )
    parts.append(
        f", fw AS (SELECT lang, nc, CAST(len(string_split("
        f"substr(s, 2, len(s) - 2), chr(31) || chr(31))) AS BIGINT) "
        f"AS nt FROM f{num_merges}), "
        "agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(nc) AS BIGINT) AS n_chars, "
        "CAST(sum(nt) AS BIGINT) AS n_tokens FROM fw GROUP BY lang), "
        "nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM documents GROUP BY lang) "
        "SELECT nd.lang AS lang, n_docs, coalesce(n_words, 0) AS n_words, "
        "coalesce(n_chars, 0) AS n_chars, "
        "coalesce(n_tokens, 0) AS n_tokens, "
        "CAST((2 * coalesce(n_tokens, 0) * 1000000 "
        "+ greatest(coalesce(n_words, 0), 1)) "
        "// (2 * greatest(coalesce(n_words, 0), 1)) AS DOUBLE) "
        "/ 1000000.0 AS fertility, "
        "CAST((2 * coalesce(n_chars, 0) * 1000000 "
        "+ greatest(coalesce(n_tokens, 0), 1)) "
        "// (2 * greatest(coalesce(n_tokens, 0), 1)) AS DOUBLE) "
        "/ 1000000.0 AS chars_per_token "
        "FROM nd LEFT JOIN agg ON nd.lang IS NOT DISTINCT FROM agg.lang"
    )
    return "".join(parts)


def _apply_bpe_oracle(num_merges: int) -> str:
    """Value oracle for apply_bpe: replay training (the shared CTE chain
    above), then tokenize each document word by applying the learned
    merges in rank order. Each round's greedy fold is equivalent to a
    single left-to-right non-overlapping string replace over the
    symbol sequence rendered with every symbol WRAPPED in chr(31)
    (``␟l␟␟r␟ → ␟lr␟``): wrapping makes an ``l == r`` run take every
    other match exactly like the fold (the consumed middle delimiter
    blocks overlap), a replacement never re-matches within the pass
    (``lr`` contains no delimiter), and symbols can't collide across
    boundaries. Precondition (verified for the sf0.01/sf0.1 fixtures,
    same contract-note style as strip_dup_lines): document text
    contains no chr(31)."""
    parts = _bpe_training_ctes(num_merges)
    parts.append(
        # documents → (doc_id, word position, word), empties dropped —
        # positions keep posexplode's original indices, matching the
        # Spark side's order-only use of _wp.
        ", docw AS (SELECT doc_id, i AS wp, tk[i] AS w FROM ("
        f"SELECT doc_id, {_TOKS} AS tk FROM documents), "
        "unnest(range(1, len(tk) + 1)) AS u(i) WHERE tk[i] <> '')"
        # s0: chars + '</w>', each symbol wrapped: ␟c1␟␟c2␟...␟</w>␟
        ", s0 AS (SELECT doc_id, wp, chr(31) || array_to_string("
        "list_append(list_transform(range(1, len(w) + 1), j -> w[j]), "
        "'</w>'), chr(31) || chr(31)) || chr(31) AS s FROM docw)"
    )
    for k in range(num_merges):
        # COALESCE: when training stops early (m{k} empty), the scalar
        # subqueries are NULL and replace() returns NULL — pass s
        # through unchanged instead, matching the Spark side applying
        # only the merges actually learned. s itself is never NULL.
        parts.append(
            f", s{k + 1} AS (SELECT doc_id, wp, COALESCE(replace(s, "
            f"chr(31) || (SELECT \"left\" FROM m{k}) || chr(31) || "
            f"chr(31) || (SELECT \"right\" FROM m{k}) || chr(31), "
            f"chr(31) || (SELECT \"left\" || \"right\" FROM m{k}) || "
            f"chr(31)), s) AS s FROM s{k})"
        )
    parts.append(
        f", wt AS (SELECT doc_id, wp, string_split("
        f"substr(s, 2, len(s) - 2), chr(31) || chr(31)) AS tk "
        f"FROM s{num_merges}) "
        "SELECT doc_id, CAST(sum(len(tk)) AS BIGINT) AS n_tokens, "
        "array_to_string(flatten(list(tk ORDER BY wp)), ' ') "
        "AS tokens_str FROM wt GROUP BY doc_id"
    )
    return "".join(parts)
