"""Canonical-hash semantics (pins the reference's get_row_hash behavior,
lotad/utils.py:19-77, via our implementation), and the Java port
(lotad_spark/jvm/CanonicalHash.java) against the Python oracle."""

import hashlib
import json
import struct
import urllib.parse

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lotad_spark.hashing import (
    canonical_value_hash,
    register_sql_functions,
    with_row_hash,
)


class TestCanonicalValueHash:
    def test_primitives_are_str(self):
        assert canonical_value_hash(1) == "1"
        assert canonical_value_hash("1") == "1"  # type-insensitive by design
        assert canonical_value_hash(None) == "None"
        assert canonical_value_hash(1.5) == "1.5"

    def test_dict_key_order_insensitive(self):
        a = canonical_value_hash('{"a": 1, "b": 2}')
        b = canonical_value_hash('{"b": 2, "a": 1}')
        assert a == b
        assert len(a) == 16  # hex digest

    def test_dict_value_change_detected(self):
        assert canonical_value_hash('{"a": 1}') != canonical_value_hash('{"a": 2}')

    def test_list_order_insensitive(self):
        a = canonical_value_hash('[{"x": 1}, {"y": 2}]')
        b = canonical_value_hash('[{"y": 2}, {"x": 1}]')
        assert a == b

    def test_list_element_change_detected(self):
        assert canonical_value_hash("[1, 2]") != canonical_value_hash("[1, 3]")

    def test_nested_recursion(self):
        a = canonical_value_hash('{"outer": {"a": 1, "b": [2, 3]}}')
        b = canonical_value_hash('{"outer": {"b": [3, 2], "a": 1}}')
        assert a == b  # inner list reorder + key reorder both canonicalized

    def test_url_encoded_json(self):
        plain = canonical_value_hash('{"a": 1}')
        encoded = canonical_value_hash("%7B%22a%22%3A%201%7D")
        assert plain == encoded

    def test_non_json_bracket_string_passthrough(self):
        assert canonical_value_hash("[not json") == "[not json"

    def test_json_numeric_vs_string_insensitive(self):
        # str(1) == "1" inside the recursion → {"a": 1} ≡ {"a": "1"}
        assert canonical_value_hash('{"a": 1}') == canonical_value_hash('{"a": "1"}')


class TestRowHashColumn:
    def test_equal_rows_equal_hash(self, spark):
        df = spark.createDataFrame(
            [(1, "x", 1.5), (1, "x", 1.5), (2, "y", None)], "a long, b string, c double"
        )
        rows = with_row_hash(df).collect()
        assert rows[0].hashed_row == rows[1].hashed_row
        assert rows[0].hashed_row != rows[2].hashed_row

    def test_json_string_canonicalized_in_plan(self, spark):
        df = spark.createDataFrame(
            [(1, '{"a": 1, "b": 2}'), (2, '{"b": 2, "a": 1}'), (3, '{"a": 9}')],
            "id long, props string",
        )
        rows = {r.id: r.hashed_row for r in with_row_hash(df, ["props"]).collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]

    def test_nested_struct_and_array(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "tags": [["b", "a"], ["a", "b"]]})
        )
        rows = {r.id: r.hashed_row for r in with_row_hash(df, ["tags"]).collect()}
        assert rows[1] == rows[2]  # array order-insensitive

    def test_null_and_none_string_collide(self, spark):
        # str(None) == "None" — reference parity (lotad/utils.py:75-77)
        df = spark.createDataFrame([(1, None), (2, "None")], "id long, v string")
        rows = {r.id: r.hashed_row for r in with_row_hash(df, ["v"]).collect()}
        assert rows[1] == rows[2]

    def test_boolean_str_parity(self, spark):
        # str(True) == "True" — a boolean column must hash identically to
        # its pre-stringified copy (reference lotad/utils.py:75-77).
        df = spark.createDataFrame(
            [(1, True, "True"), (2, False, "False")], "id long, b boolean, s string"
        )
        hb = {r.id: r.hashed_row for r in with_row_hash(df, ["b"]).collect()}
        hs = {r.id: r.hashed_row for r in with_row_hash(df, ["s"]).collect()}
        assert hb == hs

    def test_null_boolean_is_none_not_false(self, spark):
        # Regression: when/otherwise sent NULL to "False"; NULL must render
        # "None" so NULL-vs-False drifts are reported.
        df = spark.createDataFrame(
            [(1, None), (2, False), (3, True)], "id long, b boolean"
        )
        h = {r.id: r.hashed_row for r in with_row_hash(df, ["b"]).collect()}
        assert h[1] != h[2]
        assert h[1] != h[3]
        dfs = spark.createDataFrame([(1, "None")], "id long, b string")
        assert h[1] == with_row_hash(dfs, ["b"]).collect()[0].hashed_row

    def test_fast_path_matches_for_plain_values(self, spark):
        df = spark.createDataFrame([(1, "plain", 2.0)], "a long, b string, c double")
        slow = with_row_hash(df, json_strings=True).collect()[0].hashed_row
        fast = with_row_hash(df, json_strings=False).collect()[0].hashed_row
        assert slow == fast

    def test_column_order_irrelevant(self, spark):
        df1 = spark.createDataFrame([(1, "x")], "a long, b string")
        df2 = spark.createDataFrame([("x", 1)], "b string, a long")
        h1 = with_row_hash(df1).collect()[0].hashed_row
        h2 = with_row_hash(df2).collect()[0].hashed_row
        assert h1 == h2  # members sorted by column name

    def test_no_python_udf_for_non_string_fast_path(self, spark):
        df = spark.createDataFrame([(1, 2.0)], "a long, c double")
        plan = with_row_hash(df)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestSqlRegisteredUdf:
    """get_row_hash registered for SQL — reference parity with the per-
    connection UDF registration (lotad/connection.py:133,247)."""

    def test_sql_matches_python_reference(self, spark):
        from lotad_spark.hashing import canonical_value_hash

        spark.createDataFrame(
            [(1, '{"b": 2, "a": 1}'), (2, "plain")], "id long, payload string"
        ).createOrReplaceTempView("sqludf_t")
        got = {
            r.id: r.h
            for r in spark.sql(
                "SELECT id, get_row_hash(payload) AS h FROM sqludf_t"
            ).collect()
        }
        assert got[1] == canonical_value_hash('{"b": 2, "a": 1}')
        assert got[2] == "plain"

    def test_sql_json_key_order_invariant(self, spark):
        row = spark.sql(
            "SELECT get_row_hash('{\"a\": 1, \"b\": [2, 3]}') = "
            "get_row_hash('{\"b\": [3, 2], \"a\": 1}') AS eq"
        ).collect()[0]
        assert row.eq is True

    def test_whole_row_shape(self, spark):
        spark.createDataFrame([(1, "x")], "a long, b string").createOrReplaceTempView(
            "sqludf_row"
        )
        out = spark.sql(
            "SELECT get_row_hash(to_json(struct(*))) AS h FROM sqludf_row"
        ).collect()
        assert len(out) == 1 and len(out[0].h) == 16  # 64-bit hex digest


@pytest.fixture(scope="module")
def java_hash(spark):
    """The Java class itself, called over py4j: no Spark job per example."""
    register_sql_functions(spark)
    return spark._jvm.lotad_spark.jvm.CanonicalHash


# Inputs where a naive port diverges from orjson + Python str()/repr().
_TRAPS = [
    # integers outside [-2^63, 2^64-1] become floats; inside they stay exact
    "[18446744073709551616]",
    "[18446744073709551615, -9223372036854775808, -9223372036854775809, -0]",
    # parse failures keep the raw string
    "[1e400]",
    '["\\ud800"]',
    '["\\udc00"]',
    '["\\ud800\\u0041"]',
    "[1] x",
    "{}{}",
    "[01]",
    "[NaN]",
    "[Infinity]",
    '["a\x01"]',
    '["tab\tinside"]',
    "[1,]",
    '{"a":1,}',
    "[.5]",
    "[1.]",
    "[-]",
    "[1e]",
    '["\\x"]',
    "[\x0c1]",
    # a \u escape holding a non-ASCII character fails (Jackson's character
    # parser reads it as the hex digit of its low byte); after an escaped
    # backslash, "u" is a plain character
    '{"\\u000\ue064": 1}',
    '["\\u004\u0131"]',
    '["\\\\u\ue064"]',
    # floats render as Python repr (shortest round-trip digits, its layout)
    "[0.1, 1e16, 1e15, 1e-05, 0.0001, -0.0, 1e22, 5e-324, 2.5e-3, 1E2]",
    "[1.7976931348623157e308, 123456789.123, 9007199254740993.0, 0.30000000000000004]",
    "[1e-400, 2.4703282292062328e-324, 1.5e300, -2.2250738585072014e-308]",
    # powers of two whose nearest shorter decimal misses the lopsided
    # round-trip interval; the farther neighbor is the shortest repr
    "[7.120236347223045e-307, 5.858190679279809e-244, 5.940911144672375e-213]",
    # keys and element hashes sort by code point, not UTF-16 unit
    '{"\U0001F600": 1, "\uffff": 2, "\ue000": 3}',
    '["\U0001F600", "\uffff", "\\ud83d\\ude00"]',
    # orjson output escaping
    '{"\\u0001\\u001f\\u007f \\"\\\\\\b\\t\\n\\f\\r/\\u2028": "x"}',
    # %7B decoding is urllib.parse.unquote: no '+' to space, UTF-8 with replacement
    "%7B%22a%22%3A1%7D",
    "%7B%22a+b%22%3A1%7D",
    "%7B%22%ED%A0%80%22%3A1%7D",
    "%7B%22%E0%80%80%F0%9F%98%22%3A1%7D",
    '%7B"%C3%A9%c3%a9":1}',
    '%7B"é%C3":1}',
    '%7B"%E2é%82%AC":1}',
    "%7B%G1",
    "%7B",
    "%7b%22a%22%3A1%7D",
    # a string inside parsed JSON is canonicalized again
    '["{\\"b\\":1,\\"a\\":2}", "[2, 1]"]',
    '{"k": "%7B%22a%22%3A1%7D", "m": "{not json"}',
    # duplicate keys keep the last value; JSON whitespace only
    '{"a":1,"a":2}',
    '{ "a" : [1 , 2] }\r\n',
    "{}",
    "[]",
    "[[], {}, [[]]]",
    "[true, false, null, \"None\", \"True\"]",
    "[" * 400 + "]" * 400,
    # orjson has no size limits; Jackson's defaults (1000-character numbers,
    # 50,000-character names) would reject the float, the key and the
    # mantissa (the integer overflows a double, so orjson rejects it)
    pytest.param("[1." + "2" * 1199 + "]", id="float_1201_chars"),
    pytest.param("[" + "1" * 1101 + "]", id="int_1101_digits"),
    pytest.param('{"' + "k" * 60000 + '": 1}', id="key_60000_chars"),
    pytest.param("[" + "7" * 1500 + "e-1490]", id="mantissa_1500_digits"),
]


_keys = st.text(
    alphabet=st.one_of(
        st.characters(max_codepoint=0x7F),
        st.characters(min_codepoint=0xE000, max_codepoint=0xFFFF),
        st.characters(min_codepoint=0x10000, max_codepoint=0x10FFFF),
        st.sampled_from("\x00\x1f\"\\/\u2028é{[%"),
    ),
    max_size=6,
)
_random_bit_doubles = st.integers(0, 2**64 - 1).map(
    lambda b: struct.unpack("<d", b.to_bytes(8, "little"))[0]
).filter(lambda d: d == d and abs(d) != float("inf"))
_scalars = st.one_of(
    st.integers(-(2**70), 2**70),
    st.sampled_from([2**63 - 1, 2**64 - 1, 2**64, -(2**63), -(2**63) - 1]),
    _random_bit_doubles,
    st.floats(allow_nan=False, allow_infinity=False),
    _keys,
    st.booleans(),
    st.none(),
)


def _with_json_strings(children):
    containers = st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(_keys, children, max_size=4),
    )
    # JSON nested inside a string value, plain or %7B-encoded
    nested = containers.map(json.dumps)
    encoded = st.dictionaries(_keys, children, min_size=1, max_size=3).map(
        lambda d: "%7B" + urllib.parse.quote(json.dumps(d)[1:])
    )
    return st.one_of(containers, nested, encoded)


_documents = st.one_of(
    st.lists(st.recursive(_scalars, _with_json_strings, max_leaves=12), max_size=5),
    st.dictionaries(_keys, st.recursive(_scalars, _with_json_strings, max_leaves=12), max_size=5),
)


# Edits that turn a valid document into a near miss: JSON tokens, numbers
# orjson rejects, control characters, escapes and lone surrogate escapes.
_MUTATION_TOKENS = [
    "{", "}", "[", "]", ",", ":", '"', "\\", " ", "0", "-", ".", "e", "01", "-0",
    "1e400", ".5", "1.", "NaN", "Infinity", "true", "nul", "/**/", "\x00",
    "\x01", "\x0c", "\t", "\n", "\x7f", "\u2028", "\ufeff", "\\u", "\\x",
    "\\/", "\\u00e9", "\\ud800", "\\udc00", "\\ud83d\\ude00", "%7B", "%",
]
_mutations = st.lists(
    st.tuples(
        st.sampled_from(["insert", "delete", "replace"]),
        st.integers(0, 2**16),
        st.sampled_from(_MUTATION_TOKENS),
    ),
    min_size=1,
    max_size=4,
)


def _mutate(text: str, mutations) -> str:
    for op, where, token in mutations:
        i = where % (len(text) + 1)
        if op == "insert":
            text = text[:i] + token + text[i:]
        elif op == "delete":
            text = text[:i] + text[i + len(token):]
        else:
            text = text[:i] + token + text[i + len(token):]
    return text


class TestJavaParity:
    """CanonicalHash.canonical must equal canonical_value_hash bit for bit:
    snapshots persist these digests."""

    @pytest.mark.parametrize("value", _TRAPS)
    def test_trap_corpus(self, java_hash, value):
        assert java_hash.canonical(value) == canonical_value_hash(value)

    @settings(max_examples=300, deadline=None)
    @given(
        _documents,
        st.booleans(),
        st.sampled_from([(",", ":"), (", ", ": "), (" ,\n", " :\t")]),
    )
    def test_generated_documents(self, java_hash, doc, ascii_only, separators):
        text = json.dumps(doc, ensure_ascii=ascii_only, separators=separators)
        assert java_hash.canonical(text) == canonical_value_hash(text)

    @settings(max_examples=150, deadline=None)
    @given(
        st.dictionaries(_keys, _scalars, min_size=1, max_size=4),
        st.sampled_from(["", "{}", "é", "+", "%"]),
    )
    def test_url_encoded_documents(self, java_hash, doc, noise):
        text = json.dumps(doc)[1:]
        for variant in (urllib.parse.quote(text), urllib.parse.quote(text, safe="") + noise):
            value = "%7B" + variant
            assert java_hash.canonical(value) == canonical_value_hash(value)

    @settings(max_examples=400, deadline=None)
    @given(_documents, _mutations, st.booleans())
    def test_mutated_documents(self, java_hash, doc, mutations, url_encode):
        """Which near misses parse and which stay raw strings is orjson's
        call; the Java port must agree on every one."""
        text = _mutate(json.dumps(doc, ensure_ascii=False), mutations)
        if url_encode:
            text = "%7B" + urllib.parse.quote(text[1:])
        assert java_hash.canonical(text) == canonical_value_hash(text)

    @pytest.mark.parametrize("length", [0, 1, 127, 128, 129, 255, 256, 257])
    def test_blake2b_block_boundaries(self, java_hash, length):
        payload = bytes((7 * i + 3) % 256 for i in range(length))
        expected = hashlib.blake2b(payload, digest_size=8).hexdigest()
        assert java_hash.digest(payload) == expected


def test_missing_javac_error_names_it(monkeypatch, tmp_path):
    import lotad_spark.hashing as hashing

    monkeypatch.setattr(hashing, "_JAR_CACHE", tmp_path)
    monkeypatch.setattr(hashing.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        hashing.canonical_hash_jar("0.0-test")


def test_jar_key_covers_every_java_source(monkeypatch, tmp_path):
    """Editing any one Java source, or moving to another Spark version,
    changes the jar's cache key, so no stale class is ever loaded."""
    import shutil

    import lotad_spark.hashing as hashing

    sources_dir = tmp_path / "jvm"
    shutil.copytree(hashing._JAVA_DIR, sources_dir)
    monkeypatch.setattr(hashing, "_JAVA_DIR", sources_dir)
    base = hashing._jar_key("4.1.2")
    sources = sorted(sources_dir.glob("*.java"))
    assert {s.name for s in sources} >= {
        "CanonicalHash.java", "FooterSchema.java", "TopValues.java"
    }
    for source in sources:
        original = source.read_bytes()
        source.write_bytes(original + b"\n")
        assert hashing._jar_key("4.1.2") != base, source.name
        source.write_bytes(original)
    assert hashing._jar_key("4.1.2") == base
    assert hashing._jar_key("4.1.3") != base


def test_jar_holds_every_java_source(spark):
    import zipfile

    import lotad_spark.hashing as hashing

    with zipfile.ZipFile(hashing.canonical_hash_jar(spark.version)) as jar:
        names = set(jar.namelist())
    for source in hashing._JAVA_DIR.glob("*.java"):
        assert f"lotad_spark/jvm/{source.stem}.class" in names


class TestGoldenHashes:
    """with_row_hash digests recorded before the Java port: hashes that
    write_hash_snapshot persisted must still match after any change to
    the hashing layer."""

    ROWS = [
        (1, {"b": 2, "a": "x"}, {"k2": 1.5, "k1": -0.0}, [3, 1, 2],
         '{"b": [2, 1], "a": {"y": 1e20, "x": "%7B%22q%22%3A1%7D"}}',
         "%7B%22a%22%3A%201%2C%20%22b%22%3A%20%5B1%2C2%5D%7D",
         "plain text", None, True, 1.5e-7),
        (2, None, {}, [],
         '[{"k": null}, true, 18446744073709551616, "é\U0001F600"]',
         "%7Bnot json", "{not json", None, False, 123456789012345680.0),
        (3, {"b": None, "a": None}, None, None, '{"a":1}x', "%7B%7D", "",
         None, None, None),
    ]
    SCHEMA = (
        "id long, st struct<b:int,a:string>, mp map<string,double>, "
        "arr array<int>, js string, enc string, plain string, nul string, "
        "flag boolean, dbl double"
    )
    WHOLE_ROW = {
        True: ["24166e32c3735ed9", "f3d06ea834379a96", "7d5b3863ce3a0dda"],
        False: ["74d515cd77ca3968", "c2fd66b562d852d5", "3deec452d3e86964"],
    }
    PER_COLUMN = {
        "arr": ["2bbe4de8ac68771", "f2a4b0d1760f2c7c", "7c69de064c975c05"],
        "dbl": ["114b2a7cbabae3a1", "f4b14340d4b06ecb", "7c69de064c975c05"],
        "enc": ["4042d7ca537f8c03", "9987c7b5fe7ea565", "f0ee0639f6a20295"],
        "flag": ["c1de7441eea8c37c", "ecd9dc713914d122", "7c69de064c975c05"],
        "js": ["9e657d4c26025269", "daf8d2752240512b", "4bd3683b8f21e62f"],
        "mp": ["5defb20264c206ad", "f0ee0639f6a20295", "7c69de064c975c05"],
        "nul": ["7c69de064c975c05", "7c69de064c975c05", "7c69de064c975c05"],
        "plain": ["a848abeefbef9b61", "35678723211f5971", "98b1582b0977e704"],
        "st": ["ef26f381f409e931", "7c69de064c975c05", "f0ee0639f6a20295"],
    }

    def test_digests_match_recorded(self, spark):
        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        data_cols = df.columns
        for json_strings in self.WHOLE_ROW:
            df = with_row_hash(
                df, data_cols, hash_col=f"row_{json_strings}", json_strings=json_strings
            )
        for c in self.PER_COLUMN:
            df = with_row_hash(df, [c], hash_col=f"col_{c}")
        rows = df.orderBy("id").collect()  # one job for every digest
        got_rows = {j: [r[f"row_{j}"] for r in rows] for j in self.WHOLE_ROW}
        got_cols = {c: [r[f"col_{c}"] for r in rows] for c in self.PER_COLUMN}
        assert got_rows == self.WHOLE_ROW
        assert got_cols == self.PER_COLUMN
