package lotad_spark.jvm;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.math.MathContext;
import java.math.RoundingMode;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;

import com.fasterxml.jackson.core.JsonFactory;
import com.fasterxml.jackson.core.JsonParseException;
import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.core.JsonToken;
import com.fasterxml.jackson.core.JsonTokenId;
import com.fasterxml.jackson.core.StreamReadConstraints;
import org.apache.spark.sql.api.java.UDF1;

/**
 * The canonical value hash on the JVM: a bit-identical port of
 * {@code lotad_spark.hashing.canonical_value_hash} (the Python oracle, which
 * parses with orjson and digests with BLAKE2b-64).
 *
 * <p>A string that starts with '{', '[' or "%7B" is parsed as JSON
 * ("%7B" strings are URL-decoded first, exactly as urllib.parse.unquote
 * does); a failed parse keeps the raw string. Parsing is Jackson's streaming
 * parser from Spark's own jars, whose default features reject what orjson
 * rejects (leading zeros, NaN, comments, trailing commas, raw control
 * characters, bad escapes); {@link #read} and {@link #asciiEscapes} add the
 * checks Jackson lacks. The parse renders as it goes: objects digest as the compact JSON of
 * their keys sorted by code point mapped to the canonical strings of their
 * values; arrays digest as the compact JSON of their elements' canonical
 * strings sorted by code point; a string inside parsed JSON is
 * canonicalized again; scalars render as Python's str() does. The digest is
 * unkeyed BLAKE2b with an 8-byte output (RFC 7693), as 16 lowercase hex
 * digits, so hashes persisted by snapshots stay comparable.
 */
public final class CanonicalHash implements UDF1<String, String> {
  private static final long serialVersionUID = 1L;

  /**
   * Containers nested deeper than this (counted across JSON re-parsed from
   * strings) fail the parse, so the raw string is kept; the Python oracle
   * already exceeds its interpreter recursion limit near 500 levels.
   */
  static final int MAX_DEPTH = 1000;

  private static final BigInteger INT_MIN = BigInteger.ONE.shiftLeft(63).negate();
  private static final BigInteger INT_MAX = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE);

  // orjson has no size limits, so none of Jackson's (1000-character
  // numbers, 50,000-character names, 20M-character strings, 1000 levels)
  // applies. Field names are not interned into a table shared by threads.
  private static final JsonFactory JSON = JsonFactory.builder()
      .streamReadConstraints(StreamReadConstraints.builder()
          .maxNumberLength(Integer.MAX_VALUE)
          .maxNameLength(Integer.MAX_VALUE)
          .maxStringLength(Integer.MAX_VALUE)
          .maxNestingDepth(Integer.MAX_VALUE)
          .build())
      .disable(JsonFactory.Feature.CANONICALIZE_FIELD_NAMES)
      .build();

  @Override
  public String call(String value) {
    return value == null ? null : canonical(value);
  }

  /** Canonical string of one value: a 16-hex digest for JSON, else the value. */
  public static String canonical(String value) {
    return canonical(value, 0);
  }

  private static String canonical(String value, int depth) {
    if (!(value.startsWith("{") || value.startsWith("[") || value.startsWith("%7B"))) {
      return value;
    }
    String text = value.startsWith("%7B") ? unquote(value) : value;
    if (!asciiEscapes(text)) {
      return value;
    }
    try (JsonParser p = JSON.createParser(text)) {
      p.nextToken();
      String out = read(p, depth);
      return p.nextToken() == null ? out : value; // orjson rejects trailing content
    } catch (IOException e) {
      return value;
    }
  }

  /**
   * Canonical string of the value at the parser's current token, consuming
   * it. Besides Jackson's own checks it fails where orjson.loads raises:
   * nesting past {@link #MAX_DEPTH}, a surrogate that is not half of a
   * pair, numbers that overflow a double. Integers in [-2^63, 2^64-1] stay
   * exact; wider ones become doubles, as in orjson. Duplicate keys keep the
   * last value.
   */
  private static String read(JsonParser p, int depth) throws IOException {
    switch (p.currentTokenId()) {
      case JsonTokenId.ID_START_OBJECT: {
        checkDepth(p, depth);
        Map<String, String> members = new TreeMap<>(CODE_POINT_ORDER);
        for (String key = p.nextFieldName(); key != null; key = p.nextFieldName()) {
          paired(p, key);
          p.nextToken();
          members.put(key, read(p, depth + 1));
        }
        StringBuilder out = new StringBuilder("{");
        for (Map.Entry<String, String> m : members.entrySet()) {
          if (out.length() > 1) {
            out.append(',');
          }
          writeJsonString(out, m.getKey());
          out.append(':');
          writeJsonString(out, m.getValue());
        }
        return digest(out.append('}').toString().getBytes(StandardCharsets.UTF_8));
      }
      case JsonTokenId.ID_START_ARRAY: {
        checkDepth(p, depth);
        List<String> members = new ArrayList<>();
        while (p.nextToken() != JsonToken.END_ARRAY) {
          members.add(read(p, depth + 1));
        }
        members.sort(CODE_POINT_ORDER);
        StringBuilder out = new StringBuilder("[");
        for (String m : members) {
          if (out.length() > 1) {
            out.append(',');
          }
          writeJsonString(out, m);
        }
        return digest(out.append(']').toString().getBytes(StandardCharsets.UTF_8));
      }
      case JsonTokenId.ID_STRING:
        return canonical(paired(p, p.getText()), depth);
      case JsonTokenId.ID_NUMBER_INT: {
        String text = p.getText();
        if (text.length() < 19) { // at most 18 digits: inside the long range
          return text.equals("-0") ? "0" : text;
        }
        BigInteger i = new BigInteger(text);
        if (i.compareTo(INT_MIN) >= 0 && i.compareTo(INT_MAX) <= 0) {
          return i.toString();
        }
        return pythonRepr(finite(p, Double.parseDouble(text)));
      }
      case JsonTokenId.ID_NUMBER_FLOAT:
        return pythonRepr(finite(p, Double.parseDouble(p.getText())));
      case JsonTokenId.ID_TRUE:
        return "True";
      case JsonTokenId.ID_FALSE:
        return "False";
      case JsonTokenId.ID_NULL:
        return "None";
      default:
        throw new JsonParseException(p, "expected a value");
    }
  }

  private static void checkDepth(JsonParser p, int depth) throws JsonParseException {
    if (depth >= MAX_DEPTH) {
      throw new JsonParseException(p, "nested deeper than " + MAX_DEPTH);
    }
  }

  /** orjson rejects a lone surrogate, which Jackson decodes from "\\ud800". */
  private static String paired(JsonParser p, String s) throws JsonParseException {
    for (int i = 0; i < s.length(); i++) {
      if (Character.isSurrogate(s.charAt(i))
          && !(Character.isHighSurrogate(s.charAt(i)) && ++i < s.length()
              && Character.isLowSurrogate(s.charAt(i)))) {
        throw new JsonParseException(p, "unpaired surrogate");
      }
    }
    return s;
  }

  /**
   * False when a \\u escape holds a non-ASCII character, which orjson
   * rejects and Jackson's character parser reads as the hex digit of its
   * low byte ("\\u000\\ue064" as "\\u000d"). A backslash and the character
   * after it are one escape, so "\\\\u" is no \\u escape.
   */
  private static boolean asciiEscapes(String s) {
    for (int i = s.indexOf('\\'); i >= 0 && i + 1 < s.length(); i = s.indexOf('\\', i + 2)) {
      if (s.charAt(i + 1) == 'u') {
        for (int k = i + 2; k < Math.min(i + 6, s.length()); k++) {
          if (s.charAt(k) >= 0x80) {
            return false;
          }
        }
      }
    }
    return true;
  }

  private static double finite(JsonParser p, double d) throws JsonParseException {
    if (Double.isInfinite(d)) {
      throw new JsonParseException(p, "number overflows a double");
    }
    return d;
  }

  /** Python's str ordering: by code point, so astral characters sort after U+FFFF. */
  static final Comparator<String> CODE_POINT_ORDER = (a, b) -> {
    int n = Math.min(a.length(), b.length());
    for (int i = 0; i < n; i++) {
      char x = a.charAt(i);
      char y = b.charAt(i);
      if (x != y) {
        return codePointRank(x) - codePointRank(y);
      }
    }
    return a.length() - b.length();
  };

  // Lifts surrogates above U+E000..U+FFFF so that UTF-16 units order as
  // the code points they encode (at the first differing unit).
  private static int codePointRank(char c) {
    if (c >= 0xE000) {
      return c - 0x800;
    }
    return c >= 0xD800 ? c + 0x2000 : c;
  }

  /** orjson's string escaping: short escapes, other controls as \\u00xx, the rest raw. */
  private static void writeJsonString(StringBuilder out, String s) {
    out.append('"');
    for (int i = 0; i < s.length(); i++) {
      char c = s.charAt(i);
      switch (c) {
        case '"': out.append("\\\""); break;
        case '\\': out.append("\\\\"); break;
        case '\b': out.append("\\b"); break;
        case '\t': out.append("\\t"); break;
        case '\n': out.append("\\n"); break;
        case '\f': out.append("\\f"); break;
        case '\r': out.append("\\r"); break;
        default:
          if (c < 0x20) {
            out.append("\\u00").append(HEX[c >> 4]).append(HEX[c & 0xF]);
          } else {
            out.append(c);
          }
      }
    }
    out.append('"');
  }

  private static final char[] HEX = "0123456789abcdef".toCharArray();

  // ---- Python repr(float) ----------------------------------------------

  /**
   * Python's repr of a finite double: the shortest digit string that reads
   * back as the same double (the nearest such string when several exist),
   * fixed notation when -4 < decpt <= 16, otherwise d.ddde+XX.
   */
  static String pythonRepr(double d) {
    if (d == 0) {
      return (Double.doubleToRawLongBits(d) < 0) ? "-0.0" : "0.0";
    }
    BigDecimal shortest = shortestDecimal(d).stripTrailingZeros();
    String digits = shortest.unscaledValue().abs().toString();
    int decpt = digits.length() - shortest.scale();
    StringBuilder out = new StringBuilder(d < 0 ? "-" : "");
    if (decpt <= -4 || decpt > 16) {
      out.append(digits.charAt(0));
      if (digits.length() > 1) {
        out.append('.').append(digits, 1, digits.length());
      }
      int exp = decpt - 1;
      out.append(exp < 0 ? "e-" : "e+");
      int mag = Math.abs(exp);
      if (mag < 10) {
        out.append('0');
      }
      return out.append(mag).toString();
    }
    if (decpt <= 0) {
      out.append("0.");
      for (int i = decpt; i < 0; i++) {
        out.append('0');
      }
      return out.append(digits).toString();
    }
    if (decpt < digits.length()) {
      return out.append(digits, 0, decpt).append('.').append(digits, decpt, digits.length()).toString();
    }
    out.append(digits);
    for (int i = digits.length(); i < decpt; i++) {
      out.append('0');
    }
    return out.append(".0").toString();
  }

  private static BigDecimal shortestDecimal(double d) {
    BigDecimal exact = new BigDecimal(d);
    for (int p = 1; p < 17; p++) {
      BigDecimal nearest = exact.round(new MathContext(p, RoundingMode.HALF_EVEN));
      if (nearest.doubleValue() == d) {
        return nearest;
      }
      // The nearest p-digit decimal can miss a round-trip interval that
      // is lopsided (d a power of two) while the other neighbor hits it.
      RoundingMode away = nearest.compareTo(exact) < 0 ? RoundingMode.CEILING : RoundingMode.FLOOR;
      BigDecimal other = exact.round(new MathContext(p, away));
      if (other.doubleValue() == d) {
        return other;
      }
    }
    return exact.round(new MathContext(17, RoundingMode.HALF_EVEN));
  }

  // ---- urllib.parse.unquote ---------------------------------------------

  /**
   * urllib.parse.unquote with its defaults: %XX escapes inside each run of
   * ASCII characters become bytes decoded as UTF-8 with replacement;
   * non-ASCII characters and malformed escapes pass through; '+' stays.
   */
  static String unquote(String s) {
    if (s.indexOf('%') < 0) {
      return s;
    }
    StringBuilder out = new StringBuilder(s.length());
    int i = 0;
    int n = s.length();
    while (i < n) {
      int j = i;
      if (s.charAt(i) >= 0x80) {
        while (j < n && s.charAt(j) >= 0x80) {
          j++;
        }
        out.append(s, i, j);
      } else {
        while (j < n && s.charAt(j) < 0x80) {
          j++;
        }
        ByteArrayOutputStream bytes = new ByteArrayOutputStream(j - i);
        for (int k = i; k < j; k++) {
          char c = s.charAt(k);
          if (c == '%' && k + 2 < j && hexValue(s.charAt(k + 1)) >= 0 && hexValue(s.charAt(k + 2)) >= 0) {
            bytes.write(hexValue(s.charAt(k + 1)) * 16 + hexValue(s.charAt(k + 2)));
            k += 2;
          } else {
            bytes.write(c);
          }
        }
        decodeUtf8(bytes.toByteArray(), out);
      }
      i = j;
    }
    return out.toString();
  }

  private static int hexValue(char c) {
    if (c >= '0' && c <= '9') {
      return c - '0';
    }
    if (c >= 'a' && c <= 'f') {
      return c - 'a' + 10;
    }
    if (c >= 'A' && c <= 'F') {
      return c - 'A' + 10;
    }
    return -1;
  }

  /**
   * UTF-8 decoding that replaces each maximal ill-formed subpart with U+FFFD, as Python does.
   * The JDK's decoder writes one U+FFFD for a surrogate encoding (ED A0..BF xx) where Python
   * writes one a byte: 144 of 20,000 random 1-32 byte strings decoded differently, all so.
   */
  private static void decodeUtf8(byte[] b, StringBuilder out) {
    int i = 0;
    while (i < b.length) {
      int c = b[i] & 0xFF;
      if (c < 0x80) {
        out.append((char) c);
        i++;
        continue;
      }
      int need;
      int lo = 0x80;
      int hi = 0xBF;
      if (c >= 0xC2 && c <= 0xDF) {
        need = 1;
      } else if (c >= 0xE0 && c <= 0xEF) {
        need = 2;
        lo = c == 0xE0 ? 0xA0 : 0x80;
        hi = c == 0xED ? 0x9F : 0xBF;
      } else if (c >= 0xF0 && c <= 0xF4) {
        need = 3;
        lo = c == 0xF0 ? 0x90 : 0x80;
        hi = c == 0xF4 ? 0x8F : 0xBF;
      } else {
        out.append('\uFFFD');
        i++;
        continue;
      }
      int cp = c & (0x3F >> need);
      int k = i + 1;
      for (int m = 0; m < need; m++, k++) {
        int cc = k < b.length ? b[k] & 0xFF : -1;
        if (cc < lo || cc > hi) {
          break;
        }
        cp = (cp << 6) | (cc & 0x3F);
        lo = 0x80;
        hi = 0xBF;
      }
      if (k - i == need + 1) {
        out.appendCodePoint(cp);
      } else {
        out.append('\uFFFD');
      }
      i = k;
    }
  }

  // ---- BLAKE2b, unkeyed, 8-byte digest (RFC 7693) -----------------------

  private static final long[] IV = {
    0x6a09e667f3bcc908L, 0xbb67ae8584caa73bL, 0x3c6ef372fe94f82bL, 0xa54ff53a5f1d36f1L,
    0x510e527fade682d1L, 0x9b05688c2b3e6c1fL, 0x1f83d9abfb41bd6bL, 0x5be0cd19137e2179L,
  };

  private static final byte[][] SIGMA = {
    {0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15},
    {14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3},
    {11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4},
    {7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8},
    {9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13},
    {2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9},
    {12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11},
    {13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10},
    {6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5},
    {10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0},
  };

  /** hashlib.blake2b(payload, digest_size=8).hexdigest(). */
  public static String digest(byte[] payload) {
    long[] h = IV.clone();
    h[0] ^= 0x01010000L ^ 8; // digest length 8, no key, fanout 1, depth 1
    int off = 0;
    while (payload.length - off > 128) {
      compress(h, payload, off, off + 128, false);
      off += 128;
    }
    byte[] last = new byte[128];
    System.arraycopy(payload, off, last, 0, payload.length - off);
    compress(h, last, 0, payload.length, true);
    char[] hex = new char[16];
    for (int i = 0; i < 8; i++) {
      int b = (int) (h[0] >>> (8 * i)) & 0xFF;
      hex[2 * i] = HEX[b >> 4];
      hex[2 * i + 1] = HEX[b & 0xF];
    }
    return new String(hex);
  }

  private static void compress(long[] h, byte[] block, int off, long counter, boolean last) {
    long[] m = new long[16];
    for (int i = 0; i < 16; i++) {
      long w = 0;
      for (int b = 7; b >= 0; b--) {
        w = (w << 8) | (block[off + 8 * i + b] & 0xFFL);
      }
      m[i] = w;
    }
    long[] v = new long[16];
    System.arraycopy(h, 0, v, 0, 8);
    System.arraycopy(IV, 0, v, 8, 8);
    v[12] ^= counter;
    if (last) {
      v[14] = ~v[14];
    }
    for (int r = 0; r < 12; r++) {
      byte[] s = SIGMA[r % 10];
      mix(v, 0, 4, 8, 12, m[s[0]], m[s[1]]);
      mix(v, 1, 5, 9, 13, m[s[2]], m[s[3]]);
      mix(v, 2, 6, 10, 14, m[s[4]], m[s[5]]);
      mix(v, 3, 7, 11, 15, m[s[6]], m[s[7]]);
      mix(v, 0, 5, 10, 15, m[s[8]], m[s[9]]);
      mix(v, 1, 6, 11, 12, m[s[10]], m[s[11]]);
      mix(v, 2, 7, 8, 13, m[s[12]], m[s[13]]);
      mix(v, 3, 4, 9, 14, m[s[14]], m[s[15]]);
    }
    for (int i = 0; i < 8; i++) {
      h[i] ^= v[i] ^ v[i + 8];
    }
  }

  private static void mix(long[] v, int a, int b, int c, int d, long x, long y) {
    v[a] = v[a] + v[b] + x;
    v[d] = Long.rotateRight(v[d] ^ v[a], 32);
    v[c] = v[c] + v[d];
    v[b] = Long.rotateRight(v[b] ^ v[c], 24);
    v[a] = v[a] + v[b] + y;
    v[d] = Long.rotateRight(v[d] ^ v[a], 16);
    v[c] = v[c] + v[d];
    v[b] = Long.rotateRight(v[b] ^ v[c], 63);
  }
}
