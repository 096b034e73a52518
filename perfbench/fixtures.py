"""Seeded two-database fixtures and their DuckDB oracle.

Each workload is a pair of parquet directories (``db1``, ``db2``) built by
DuckDB from the seed alone, plus ``expected.json``: what DuckDB computes,
independently of the engine under test, for

* each shared table's drift counts (``rows_only_in_db1``/``_db2``: distinct
  raw rows whose canonical form has no match on the other side);
* each shared table's ignorable columns (zero overlap between the first
  ``WIZARD_SAMPLE`` distinct values of db1 and the values of db2), and
  which tables the workload runs the wizard on;
* input rows and bytes per side.

Randomness comes from ``hash(row, seed, salt)``, never ``random()``, so a
build is identical whatever DuckDB's thread count.

A build writes to a temporary directory and renames it into place, so an
interrupted build never leaves a half fixture under the cache key.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

SPEC_VERSION = "v5"
WIZARD_SAMPLE = 10000  # lotad_spark.wizard.SAMPLE_LIMIT
KEEP_FIXTURES = 3  # cached fixture builds kept per checkout

# TPC-H row counts at scale factor 1 (lineitem and its key ranges).
TPCH_ROWS = {"supplier": 10_000, "part": 200_000, "orders": 1_500_000, "lineitem": 6_000_000}


@dataclass
class Table:
    """One table of a workload: how to build each side, and how the oracle
    sees a row (``canon`` maps a column to a DuckDB expression over alias
    ``t`` that is equal on both sides exactly when the engine's canonical
    hash member is)."""

    name: str
    db1: str  # SELECT producing the db1 side
    db2: str  # SELECT over the db1 parquet ({src}); "" = table absent from db2
    canon: dict[str, str] = field(default_factory=dict)


def _r(salt: int, seed: int, key: str = "i") -> str:
    return f"hash({key}, {seed}, {salt})"


def _lineitem(sf: float, seed: int, *, comment_md5s: int = 0, heavy_drift: bool = False) -> Table:
    """TPC-H-shaped lineitem at scale ``sf``. db2 applies the reference
    quantity shift (lotad_spark/benchmarks/fixtures.py MUTATIONS) with the
    seed shifting the modulus phase, or with ``heavy_drift`` shifts a
    quarter of the rows, so the drift sink writes real volume.
    ``comment_md5s`` adds an ``l_comment`` of that many random 32-character
    blocks: bytes without rows."""
    n = {t: max(1, int(round(r * sf))) for t, r in TPCH_ROWS.items()}
    s = seed
    blocks = " || ".join(f"md5(i::VARCHAR || '-{k}-' || {s})" for k in range(comment_md5s))
    comment_col = f", {blocks} AS l_comment" if comment_md5s else ""
    comment_out = ", l_comment" if comment_md5s else ""
    changed = f"hash(l_orderkey, {s}, 99) % 4 = 0" if heavy_drift else f"(l_orderkey + {s}) % 211 = 0"
    return Table(
        "lineitem",
        f"SELECT ({_r(16, s)} % {n['orders']})::BIGINT AS l_orderkey, "
        f"({_r(17, s)} % {n['part']})::BIGINT AS l_partkey, "
        f"({_r(18, s)} % {n['supplier']})::BIGINT AS l_suppkey, "
        f"({_r(19, s)} % 7 + 1)::INT AS l_linenumber, "
        f"({_r(20, s)} % 50 + 1)::DOUBLE AS l_quantity, "
        f"round(({_r(21, s)} % 10000000) / 100.0, 2) AS l_extendedprice, "
        f"({_r(22, s)} % 11) / 100.0 AS l_discount, "
        f"({_r(23, s)} % 9) / 100.0 AS l_tax, "
        f"['A','N','R'][({_r(24, s)} % 3)::INT + 1] AS l_returnflag, "
        f"['O','F'][({_r(25, s)} % 2)::INT + 1] AS l_linestatus, "
        f"TIMESTAMP '1992-01-01' + to_days(({_r(26, s)} % 3650)::INT) AS l_shipdate"
        f"{comment_col} FROM range({n['lineitem']}) t(i)",
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
        f"CASE WHEN {changed} THEN l_quantity + 1 ELSE l_quantity END "
        "AS l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
        f"l_linestatus, l_shipdate{comment_out} FROM {{src}}",
    )


def _events(rows: int, seed: int) -> Table:
    """Event stream with a JSON ``props`` string whose db2 rendering changes
    whitespace only (zero expected drift). ``ts`` is timestamp[ns] on disk,
    as in the repository's test data, which exercises the source layer's
    nanos rebuild."""
    s = seed
    return Table(
        "events",
        f"SELECT i AS event_id, "
        f"(TIMESTAMP '2024-01-01' + to_microseconds((i * 30000000 + {_r(27, s)} % 30000000)::BIGINT))"
        f"::TIMESTAMP_NS AS ts, ({_r(28, s)} % 5000)::BIGINT AS user_id, "
        f"['view','click','signup','error','purchase'][({_r(29, s)} % 5)::INT + 1] AS event_type, "
        f"round(({_r(30, s)} % 20000) / 100.0, 2) AS value, "
        f"'{{\"k\": ' || ({_r(31, s)} % 100) || '}}' AS props "
        f"FROM range({rows}) t(i)",
        "SELECT event_id, ts, user_id, event_type, value, "
        "'{ \"k\": ' || json_extract(props, '$.k') || ' }' AS props FROM {src}",
        canon={"props": "json_extract(t.props, '$.k')::INT"},
    )


def _catalog_extra(seed: int) -> list[Table]:
    """Small non-TPC-H tables: nested and JSON columns whose db2 rendering
    changes only in ways the canonical hash ignores, schema drift, a
    missing table, and a column the wizard should flag."""
    s = seed
    return [
        # JSON strings: db2 changes key order, whitespace and array order on
        # every row, and the age on ~3% of rows (the only real drift).
        Table(
            "profiles_json",
            f"SELECT i AS profile_id, '{{\"name\": \"u' || i || '\", \"age\": ' || ({_r(40, s)} % 90) || "
            f"', \"tags\": [' || ({_r(41, s)} % 7) || ', ' || ({_r(42, s)} % 7 + 7) || ']}}' AS doc "
            f"FROM range(3000) t(i)",
            "SELECT profile_id, '{ \"tags\" : [' || json_extract(doc, '$.tags[1]') || ','"
            " || json_extract(doc, '$.tags[0]') || '], \"age\": ' || "
            f"(json_extract(doc, '$.age')::INT + (hash(profile_id, {s}, 53) % 33 = 0)::INT) || "
            "', \"name\": ' || json_extract(doc, '$.name') || ' }' AS doc FROM {src}",
            canon={"doc": "(json_extract_string(t.doc, '$.name'), json_extract(t.doc, '$.age')::INT, "
                   "list_sort(json_extract(t.doc, '$.tags')::INT[]))"},
        ),
        # Struct field order differs between the sides' schemas, arrays are
        # reversed and map entries reordered: zero expected drift.
        Table(
            "items_nested",
            f"SELECT i AS item_id, {{'a': ({_r(43, s)} % 1000)::INT, 'b': 'x' || ({_r(44, s)} % 50)}} AS attrs, "
            f"[({_r(45, s)} % 9)::INT, ({_r(46, s)} % 9 + 9)::INT, ({_r(47, s)} % 9 + 18)::INT] AS tags, "
            f"map_from_entries([('p', ({_r(48, s)} % 100)::INT), ('q', ({_r(49, s)} % 100)::INT)]) AS props "
            f"FROM range(2000) t(i)",
            "SELECT item_id, {'b': attrs.b, 'a': attrs.a} AS attrs, list_reverse(tags) AS tags, "
            "map_from_entries([('q', props['q'][1]), ('p', props['p'][1])]) AS props FROM {src}",
            canon={
                "attrs": "(t.attrs.a, t.attrs.b)",
                "tags": "list_sort(t.tags)",
                "props": "(t.props['p'][1], t.props['q'][1])",
            },
        ),
        # A per-load id that differs on every row: the wizard's target, and
        # why every row drifts. db2 also drops 2% of rows and gains a column
        # (schema drift; the diff compares the intersection).
        Table(
            "accounts",
            f"SELECT i AS account_id, 'user' || i || '@example.com' AS email, "
            f"round(({_r(54, s)} % 100000) / 100.0, 2) AS balance, "
            f"'L1-' || md5(i::VARCHAR || {s}) AS load_id FROM range(1500) t(i)",
            "SELECT account_id, email, balance, 'L2-' || md5(account_id::VARCHAR) AS load_id, "
            f"'web' AS client FROM {{src}} WHERE hash(account_id, {s}, 58) % 50 != 0",
        ),
        # Present in db1 only: missing-table drift, no data diff.
        Table(
            "legacy_flags",
            f"SELECT i AS flag_id, ({_r(64, s)} % 2 = 0) AS flag FROM range(100) t(i)",
            "",
        ),
    ]


@dataclass
class Workload:
    name: str
    scale: float
    tables: list[Table]
    wizard: list[str]  # the shared tables the wizard runs on


def workload(name: str, seed: int, scale: float | None = None) -> Workload:
    """The named workload's tables. ``scale`` overrides the TPC-H scale
    factor (the smoke test builds sf0.001-sized inputs)."""
    if name == "catalog":
        # The wizard runs on two small tables, flat and nested, whose cost
        # is its per-table jobs; each run sweeps them four times.
        sf = 0.01 if scale is None else scale
        return Workload(name, sf, [_lineitem(sf, seed)] + _catalog_extra(seed),
                        wizard=["accounts", "items_nested"])
    if name == "bulk":
        # A 768-character comment puts lineitem's two sides (~40 MB each)
        # over the diff's 64 MB JSON-probe floor and 16 MB router floor with
        # few rows, which keeps per-row work (and the wizard's) small.
        # events sends 100k JSON strings through the Python canonicalizer.
        # The wizard runs on events only: melting lineitem's 768-character
        # comment takes about as long as a whole warm compare.
        sf = 0.00833 if scale is None else scale
        return Workload(name, sf, [_lineitem(sf, seed, comment_md5s=24, heavy_drift=True),
                                   _events(int(round(6_000_000 * sf)), seed)], wizard=["events"])
    raise ValueError(f"unknown workload {name!r}")


def _describe(con, path: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()}


def _oracle_drift(con, p1: str, p2: str, cols: list[str], canon: dict[str, str]) -> tuple[int, int]:
    key = ", ".join(canon.get(c, f't."{c}"') for c in cols)
    raw = ", ".join(f'"{c}"' for c in cols)

    def only(a: str, b: str) -> int:
        return con.execute(
            f"WITH a AS (SELECT DISTINCT {raw} FROM '{a}'), "
            f"ka AS (SELECT ({key}) AS k FROM a t), "
            f"kb AS (SELECT DISTINCT ({key}) AS k FROM '{b}' t) "
            "SELECT count(*) FROM ka WHERE NOT EXISTS (SELECT 1 FROM kb WHERE kb.k = ka.k)"
        ).fetchone()[0]

    return only(p1, p2), only(p2, p1)


def _render(col: str, dtype: str) -> str:
    # Spark's cast(... as string) for the types the fixtures use; ns
    # timestamps reach Spark as microseconds.
    if dtype.startswith("TIMESTAMP"):
        return f'"{col}"::TIMESTAMP::VARCHAR'
    return f'"{col}"::VARCHAR'


def _oracle_ignorable(con, p1: str, p2: str, s1: dict, s2: dict) -> list[str]:
    """Shared same-typed columns whose first WIZARD_SAMPLE distinct db1
    values (as strings, byte order) never occur in db2. Nested columns are
    exact only below WIZARD_SAMPLE rows, which the fixtures keep."""
    out = []
    for c in sorted(set(s1) & set(s2)):
        if s1[c] != s2[c]:
            continue
        r = _render(c, s1[c])
        hit = con.execute(
            f"WITH s AS (SELECT DISTINCT {r} AS v FROM '{p1}' WHERE \"{c}\" IS NOT NULL "
            f"ORDER BY v LIMIT {WIZARD_SAMPLE}) "
            f"SELECT count(*) FROM '{p2}' WHERE {r} IN (SELECT v FROM s)"
        ).fetchone()[0]
        if hit == 0:
            out.append(c)
    return out


def build(root: str, wl: Workload, seed: int) -> Path:
    """Build (or reuse) ``wl`` for ``seed`` under ``root``; returns the
    fixture directory holding ``db1/``, ``db2/`` and ``expected.json``."""
    key = f"{wl.name}-{SPEC_VERSION}-s{seed}-sf{wl.scale:g}"
    cache = Path(root)
    final = cache / key
    if (final / "expected.json").exists():
        os.utime(final)
        return final
    cache.mkdir(parents=True, exist_ok=True)
    tmp = cache / f".tmp-{key}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "db1").mkdir(parents=True)
    (tmp / "db2").mkdir()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    expected: dict = {"tables": {}, "missing": [], "rows": [0, 0], "bytes": [0, 0]}
    for t in wl.tables:
        p1, p2 = tmp / "db1" / f"{t.name}.parquet", tmp / "db2" / f"{t.name}.parquet"
        con.execute(f"COPY ({t.db1}) TO '{p1}' (FORMAT PARQUET)")
        if t.db2 == "":
            expected["missing"].append(t.name)
        else:
            con.execute(f"COPY ({t.db2.replace('{src}', repr(str(p1)))}) TO '{p2}' (FORMAT PARQUET)")
    for side, db in enumerate(("db1", "db2")):
        for p in sorted((tmp / db).glob("*.parquet")):
            expected["rows"][side] += con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]
            expected["bytes"][side] += p.stat().st_size
    for t in wl.tables:
        if t.db2 == "":
            continue
        p1, p2 = str(tmp / "db1" / f"{t.name}.parquet"), str(tmp / "db2" / f"{t.name}.parquet")
        s1, s2 = _describe(con, p1), _describe(con, p2)
        cols = sorted(set(s1) & set(s2))
        n1, n2 = _oracle_drift(con, p1, p2, cols, t.canon)
        expected["tables"][t.name] = {
            "rows_only_in_db1": n1,
            "rows_only_in_db2": n2,
            "ignorable": _oracle_ignorable(con, p1, p2, s1, s2),
            "wizard_columns": sum(1 for c in cols if s1[c] == s2[c]),
            "schema_drift": sorted(set(s1) ^ set(s2)),
        }
    con.close()
    expected["wizard_tables"] = wl.wizard
    (tmp / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True))
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(cache, keep=final)
    return final


def _prune(cache: Path, keep: Path) -> None:
    builds = sorted(
        (p for p in cache.iterdir() if p.is_dir() and not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in builds[KEEP_FIXTURES:]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)
