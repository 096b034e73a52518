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
  BLAKE2b with an 8-byte digest. The *algorithm* (recursion, key sorting,
  hash-of-sorted-element-hashes) is identical; only the digest primitive
  differs. Both sides of a diff are hashed by this engine, so cross-engine
  digest parity is not required; digests persisted by
  ``write_hash_snapshot`` must stay stable, so the digest never changes.
* The reference hashes the whole row as one JSON document through a scalar
  Python UDF. Here the row hash is composed **column-wise**: each column is
  reduced to a canonical string member by JVM expressions, and the members
  feed Spark's codegen'd ``xxhash64``. JSON-looking strings and nested
  columns (via ``to_json``) go through ``lotad_spark/jvm/CanonicalHash.java``,
  a Java UDF registered as ``get_row_hash`` that stays inside whole-stage
  codegen: hashing starts no Python worker. The hash is built as one SQL
  text (``row_hash_sql``), which the JVM parses in one call, where a
  Column built operator by operator costs a driver round trip each.

``canonical_value_hash`` below is the Python statement of the semantics and
the oracle the Java port is tested against (tests/test_hashing.py), down to
orjson's number and escaping rules and Python's ``repr(float)``. The Java
port parses with the Jackson streaming parser of Spark's own jars, its size
limits lifted, and adds the rejections orjson makes and Jackson does not
(trailing content, lone surrogates, numbers that overflow a double, non-ASCII
characters in ``\\u`` escapes); which near-miss documents parse is pinned by
a mutation fuzz against the oracle.

The Java classes of ``lotad_spark/jvm/`` (this UDF and the JVM helpers of
the parquet source and the wizard, see ``jvm_helper``, and the local file
system ``session.get_spark`` installs) are compiled once per
machine on first use (``javac``, JDK 17+) into one jar under
``~/.cache/lotad_spark/<hash of sources + Spark version>/`` and loaded into
each session with ``ADD JAR``. The hash column is computed last in the
plan so parquet pushdown/pruning below it is unaffected.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import urllib.parse
import weakref
import zipfile
from collections.abc import Iterable
from pathlib import Path

import orjson
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HASH_COL = "hashed_row"
PROVENANCE_COL = "observed_in"
CANONICAL_NULL = "None"
SQL_FUNCTION = "get_row_hash"

_JSON_INIT_CHARS = ("{", "[", "%7B")
_JAVA_DIR = Path(__file__).with_name("jvm")
_JAVA_CLASS = "lotad_spark.jvm.CanonicalHash"
_JAR_CACHE = Path.home() / ".cache" / "lotad_spark"


def _digest(payload: bytes) -> str:
    """64-bit hex digest of canonical JSON bytes (stands in for xxh64)."""
    return hashlib.blake2b(payload, digest_size=8).hexdigest()


def canonical_value_hash(value: object) -> str:
    """Python reference implementation of the canonical hash for one value.

    Mirrors the recursion of the reference ``get_row_hash``
    (lotad/utils.py:19-77). The engine runs the Java port
    (``lotad_spark/jvm/CanonicalHash.java``); this function is the oracle
    that port is tested against, and the DuckDB oracle's ``get_row_hash``.
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


def _jar_key(spark_version: str) -> str:
    """Cache key of the jar: every Java source (name and bytes) plus the
    Spark version the Spark-internal references compile against."""
    digest = hashlib.sha256()
    for source in sorted(_JAVA_DIR.glob("*.java")):
        digest.update(source.name.encode() + b"\0" + source.read_bytes() + b"\0")
    digest.update(spark_version.encode())
    return digest.hexdigest()[:16]


def canonical_hash_jar(spark_version: str) -> str:
    """Path of the jar of every ``lotad_spark/jvm/*.java`` class (the
    canonical hash UDF and the JVM helpers), building it on first use.

    The cache key covers the Java sources and the Spark version; the jar is
    written to a temporary name and renamed into place, so concurrent
    builders never expose a partial file."""
    from pyspark.find_spark_home import _find_spark_home

    jar = _JAR_CACHE / _jar_key(spark_version) / "lotad-spark.jar"
    if jar.exists():
        return str(jar)
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "the canonical row hash and the JVM helpers need `javac` (a JDK "
            f"17+) to compile {_JAVA_DIR} once; none is on PATH and no "
            f"cached jar exists at {jar}"
        )
    sources = [str(p) for p in sorted(_JAVA_DIR.glob("*.java"))]
    classpath = os.path.join(_find_spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        build = subprocess.run(
            [javac, "-encoding", "UTF-8", "--release", "17", "-cp", classpath,
             "-d", classes, *sources],
            capture_output=True, text=True,
        )
        if build.returncode != 0:
            raise RuntimeError(f"javac failed on {_JAVA_DIR}:\n{build.stderr}")
        jar.parent.mkdir(parents=True, exist_ok=True)
        fd, partial = tempfile.mkstemp(dir=jar.parent, suffix=".part")
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for cls in sorted(Path(classes).rglob("*.class")):
                zf.write(cls, cls.relative_to(classes).as_posix())
        os.replace(partial, jar)
    return str(jar)


_registered = weakref.WeakSet()
_register_lock = threading.Lock()


def register_sql_functions(spark) -> None:
    """Register ``get_row_hash`` in ``spark`` (once per session).

    Reference parity: the UDF is registered into every connection so custom
    queries can call it (lotad/connection.py:133,247; queries use
    ``get_row_hash(TO_JSON(t)::VARCHAR)``). Spark SQL shape:
    ``get_row_hash(to_json(struct(*)))``. The function takes the JSON
    rendering of a value/row and returns the canonical digest of its
    recursive canonicalization, identical to ``canonical_value_hash``
    (non-JSON strings come back unchanged, NULL stays NULL). That is the
    reference's whole-row scalar (one digest over the sorted-key document),
    which differs from the column-wise composition ``with_row_hash`` uses
    on the diff hot path; the hot path calls the same function per
    JSON-bearing member. Any session works, not only ones from
    ``get_spark``: the jar is added with ``ADD JAR``."""
    if spark in _registered:
        return
    with _register_lock:
        if spark in _registered:
            return
        jar = canonical_hash_jar(spark.version)
        spark.sql(f"ADD JAR '{jar}'")
        spark.udf.registerJavaFunction(SQL_FUNCTION, _JAVA_CLASS, T.StringType())
        _registered.add(spark)


def jvm_helper(spark, name: str):
    """A new instance of the jar's class ``lotad_spark.jvm.<name>``.

    Loaded through the session's jar class loader: ``ADD JAR`` makes the
    jar visible only to the thread that ran it, and ``spark._jvm`` resolves
    classes through the calling thread's loader, so compare_all's pool
    threads would not find them there. Methods are called on the instance,
    which py4j resolves on the object's own class."""
    register_sql_functions(spark)
    loader = spark._jsparkSession.sharedState().jarClassLoader()
    return loader.loadClass(f"lotad_spark.jvm.{name}").newInstance()


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backquoted, backticks doubled.

    Every SQL text and every ``F.col`` of a data column takes this form,
    so a column named ``x.y``, ``a`b`` or ``sp ace`` resolves as itself."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslash escapes, the
    parser's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _is_nested(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StructType, T.MapType, T.ArrayType))


def _member_sql(ident: str, dtype: T.DataType, json_strings: bool) -> str:
    """SQL text reducing one column to its canonical string member.

    * nested types → ``to_json`` then canonical JSON digest;
    * strings → canonical JSON digest only when the value looks like JSON
      (a JVM ``CASE`` guard: the UDF never sees plain strings);
      ``json_strings=False`` renders them as-is;
    * binary → base64 rendering;
    * booleans → ``"True"``/``"False"``: the reference renders non-JSON
      scalars with ``str(value)`` (lotad/utils.py:75-77), so a boolean
      column and its stringified copy must NOT drift against each other,
      where Spark's string cast yields ``"true"``. ``CASE`` sends a NULL
      condition to its (absent) ``ELSE``, so NULL stays NULL;
    * everything else → string cast (float rendering still differs from
      ``str()`` in corners — ``1e20`` vs ``1.0E20`` — which only matters
      when one side arrives pre-stringified).

    NULL → ``"None"`` throughout (reference parity: ``str(None)``).
    """
    if _is_nested(dtype):
        member = f"{SQL_FUNCTION}(to_json({ident}))"
    elif json_strings and isinstance(dtype, T.StringType):
        looks_json = " OR ".join(
            f"startswith({ident}, '{c}')" for c in _JSON_INIT_CHARS
        )
        member = (
            f"CASE WHEN {looks_json} THEN {SQL_FUNCTION}({ident}) ELSE {ident} END"
        )
    elif isinstance(dtype, T.BinaryType):
        member = f"base64({ident})"
    elif isinstance(dtype, T.BooleanType):
        member = f"CASE WHEN {ident} THEN 'True' WHEN NOT {ident} THEN 'False' END"
    else:
        member = f"CAST({ident} AS STRING)"
    return f"coalesce({member}, '{CANONICAL_NULL}')"


def row_hash_sql(
    types: Iterable[tuple[str, T.DataType]], *, json_strings: bool = True
) -> str:
    """SQL text of the canonical hash over ``(column, type)`` pairs (sorted
    by name): each column's canonical member feeds Spark's ``xxhash64``,
    rendered as lower-case hex. The one statement of the row hash: the
    diff applies it to its normalized columns, everything else through
    ``canonical_row_hash``. Resolves in a session with ``get_row_hash``
    registered."""
    members = ", ".join(
        _member_sql(quote_ident(c), dt, json_strings)
        for c, dt in sorted(types, key=lambda pair: pair[0])
    )
    return f"lower(hex(xxhash64({members})))"


def canonical_row_hash(
    df: DataFrame,
    columns: Iterable[str] | None = None,
    *,
    json_strings: bool = True,
) -> Column:
    """Canonical hash over ``columns`` (sorted by name) as a hex-string Column.

    ``json_strings=False`` renders string columns as-is (no looks-like-JSON
    canonicalization), for callers that know their strings embed no JSON.
    Registers ``get_row_hash`` in ``df``'s session if needed.
    """
    register_sql_functions(df.sparkSession)
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = fields if columns is None else columns
    return F.expr(
        row_hash_sql([(c, fields[c]) for c in cols], json_strings=json_strings)
    )


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
