"""Canonical row hashing — the engine's defining scalar function.

Semantics mirror the reference engine's ``get_row_hash``
(reference: lotad/utils.py:19-77, registered at lotad/connection.py:133,247):

* strings that start with ``{``, ``[`` or ``%7B`` are treated as JSON
  (URL-decoded first when ``%7B``-prefixed) and canonicalized recursively;
* dict values are hashed recursively with keys sorted, then the dict is
  digested;
* list elements are hashed recursively and the element hashes are **sorted**
  before digesting — list order never affects the hash;
* every other value compares as its string rendering, so ``1`` and ``"1"``
  collide by design (type-insensitive), and NULL renders as ``"None"``.

Engineering differences from the reference (documented, deliberate):

* The reference digests with xxh64 via the ``xxhash`` package; that package
  is not available in this environment, so nested-structure digests use
  ``hashlib.blake2b(digest_size=8)``. The *algorithm* (recursion, key
  sorting, hash-of-sorted-element-hashes) is identical; only the digest
  primitive differs. Digests are internal join keys — both sides of a diff
  are hashed by this engine, so cross-engine digest parity is not required.
* The reference hashes the whole row as one JSON document through a scalar
  (row-at-a-time) Python UDF. Here the row hash is composed **column-wise**:
  each column is reduced to a canonical string member (JVM-side for
  primitives; an Arrow-vectorized pandas UDF only for JSON-bearing strings
  and nested types), and the members feed Spark's codegen'd ``xxhash64``.
  This keeps the hot path inside whole-stage codegen — the Python stage only
  ever sees strings that actually look like JSON.

Scale notes: the pandas UDF is Arrow-batched and receives NULL for non-JSON
values (via a ``when`` guard), so a 100 TB table of primitives pays zero
Python cost. The hash column is computed last in the plan so parquet
pushdown/pruning below it is unaffected.
"""

from __future__ import annotations

import hashlib
import urllib.parse
from collections.abc import Iterable

import orjson
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HASH_COL = "hashed_row"
PROVENANCE_COL = "observed_in"
CANONICAL_NULL = "None"

_JSON_INIT_CHARS = ("{", "[", "%7B")


def _digest(payload: bytes) -> str:
    """64-bit hex digest of canonical JSON bytes (stands in for xxh64)."""
    return hashlib.blake2b(payload, digest_size=8).hexdigest()


def canonical_value_hash(value: object) -> str:
    """Python reference implementation of the canonical hash for one value.

    Mirrors the recursion of the reference ``get_row_hash``
    (lotad/utils.py:19-77). Used by the pandas UDF and directly by tests.
    """
    if isinstance(value, str) and value.startswith(_JSON_INIT_CHARS):
        try:
            decoded = urllib.parse.unquote(value) if value.startswith("%7B") else value
            value = orjson.loads(decoded)
        except (orjson.JSONDecodeError, ValueError):
            pass

    if isinstance(value, dict):
        normalized = {k: canonical_value_hash(v) for k, v in sorted(value.items())}
        return _digest(orjson.dumps(normalized, option=orjson.OPT_SORT_KEYS))
    if isinstance(value, (list, tuple)):
        # Order-insensitive: hash elements, then sort the hashes.
        return _digest(orjson.dumps(sorted(canonical_value_hash(v) for v in value)))
    return str(value)


@F.pandas_udf(T.StringType())
def _canon_json_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized canonicalizer for JSON-bearing string values."""
    return s.map(canonical_value_hash, na_action="ignore")


def _is_nested(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StructType, T.MapType, T.ArrayType))


def canonical_member(
    col: Column, dtype: T.DataType, json_strings: bool = True
) -> Column:
    """Reduce one column to its canonical string member for row hashing.

    * nested types → ``to_json`` then canonical JSON digest;
    * strings → canonical JSON digest only when the value looks like JSON
      (the pandas UDF receives NULL otherwise — no Python cost for plain
      strings); ``json_strings=False`` renders them as-is, keeping a
      JSON-free row hash entirely inside whole-stage codegen;
    * binary → base64 rendering;
    * everything else → string cast; NULL → ``"None"`` (reference parity:
      ``str(None)``).
    """
    if _is_nested(dtype):
        col = F.to_json(col)
        return F.coalesce(_canon_json_udf(col), F.lit(CANONICAL_NULL))
    if json_strings and isinstance(dtype, T.StringType):
        looks_json = (
            col.startswith("{") | col.startswith("[") | col.startswith("%7B")
        )
        guarded = F.when(looks_json, col)
        return F.coalesce(_canon_json_udf(guarded), col, F.lit(CANONICAL_NULL))
    if isinstance(dtype, T.BinaryType):
        return F.coalesce(F.base64(col), F.lit(CANONICAL_NULL))
    return _scalar_member(col, dtype)


def _scalar_member(col: Column, dtype: T.DataType) -> Column:
    """String rendering of a primitive with Python ``str()`` parity.

    The reference renders non-JSON scalars with ``str(value)``
    (lotad/utils.py:75-77), so ``True`` must hash as ``"True"`` — a boolean
    column and its stringified copy must NOT drift against each other.
    Spark's ``cast("string")`` yields ``"true"``; fix booleans JVM-side.
    (Float rendering still differs in corners — ``1e20`` vs ``1.0E20`` —
    which only matters when one side arrives pre-stringified; documented
    caveat, not hit by same-typed comparisons.)
    """
    if isinstance(dtype, T.BooleanType):
        # SQL CASE sends NULL conditions to `otherwise`, so a plain
        # when/otherwise would render NULL as "False"; keep NULL flowing to
        # the coalesce instead (reference: str(None) == "None").
        rendered = F.when(col, F.lit("True")).when(~col, F.lit("False"))
        return F.coalesce(rendered, F.lit(CANONICAL_NULL))
    return F.coalesce(col.cast("string"), F.lit(CANONICAL_NULL))


def canonical_row_hash(
    df: DataFrame,
    columns: Iterable[str] | None = None,
    *,
    json_strings: bool = True,
) -> Column:
    """Canonical hash over ``columns`` (sorted by name) as a hex-string Column.

    ``json_strings=False`` selects the pure-JVM fast path for string columns
    (skip the looks-like-JSON canonicalization entirely).
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = sorted(columns) if columns is not None else sorted(fields)
    members = [
        canonical_member(F.col(f"`{c}`"), fields[c], json_strings) for c in cols
    ]
    return F.lower(F.hex(F.xxhash64(*members)))


def register_sql_functions(spark) -> None:
    """Register ``get_row_hash`` for SQL use (reference parity: the UDF is
    registered into every connection so custom queries can call it,
    lotad/connection.py:133,247 / queries use
    ``get_row_hash(TO_JSON(t)::VARCHAR)``).

    Spark SQL shape: ``get_row_hash(to_json(struct(*)))``. The function takes
    the JSON rendering of a value/row and returns the canonical digest of
    its recursive canonicalization — identical semantics to the reference's
    whole-row scalar UDF (one digest over the sorted-key document), which
    differs from the column-wise composition ``with_row_hash`` uses on the
    diff hot path. Registration is idempotent.
    """
    spark.udf.register("get_row_hash", _canon_json_udf)


def with_row_hash(
    df: DataFrame,
    columns: Iterable[str] | None = None,
    *,
    hash_col: str = HASH_COL,
    json_strings: bool = True,
) -> DataFrame:
    """Append the canonical row hash column (computed over data columns only;
    provenance/hash metadata columns are always excluded)."""
    exclude = {hash_col, PROVENANCE_COL}
    cols = [c for c in (columns or df.columns) if c not in exclude]
    return df.withColumn(
        hash_col, canonical_row_hash(df, cols, json_strings=json_strings)
    )
