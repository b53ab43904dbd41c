package jsonsparkext;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.math.MathContext;
import java.math.RoundingMode;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.List;

/**
 * Exact JSON path finder: the JVM port of the Python kernels' streaming
 * finder (datafusion_functions_json_spark/functions/core.py {@code find},
 * {@code find_raw}, {@code exists_at}, {@code length_at},
 * {@code items_at}, {@code keys_at}), of the string coercions
 * {@code parse_{int,float,bool}_like_rust} and of the canonicalizer
 * {@code json_dumps_canonical}. The Python
 * code is the specification; this port is pinned to it row for row by
 * tests/test_jvm_tier.py.
 *
 * <p>Semantics carried over:
 * <ul>
 * <li>paths are str keys / int indexes; the first matching key wins and
 *     keys compare after unescaping; a negative index always misses;</li>
 * <li>never throws on data: malformed JSON met along the path is a miss,
 *     and text after the found value is never looked at;</li>
 * <li>tokens follow CPython's strict {@code json} scanner: no NaN or
 *     Infinity, no raw control characters in strings, integers of up to
 *     4300 digits (CPython's {@code int} limit);</li>
 * <li>raw slices are verbatim ({@code 4.2e-1}, {@code -0});</li>
 * <li>every value the finder skips or captures may nest at most
 *     {@link #DEPTH_LIMIT} containers deep, where CPython's recursion
 *     limit stops the Python finder; the Python kernels parse a row
 *     whole with orjson only when it has fewer than {@link #DEPTH_LIMIT}
 *     '{' and '[' characters, so the limit holds on every row.
 *     Scanning is iterative, so no depth raises
 *     {@code StackOverflowError}.</li>
 * </ul>
 */
final class JsonFinder {

    static final int MISSING = -1;
    static final int NULL = 0;
    static final int BOOL = 1;
    static final int INT = 2;
    static final int FLOAT = 3;
    static final int STR = 4;
    static final int ARRAY = 5;
    static final int OBJECT = 6;

    /**
     * Deepest container nesting a skipped or captured value may have.
     * CPython's JSON scanner spends one unit of the 1000-frame recursion
     * limit per container, after the frames already on the stack, so the
     * Python finder gives up somewhere between about 900 and 1000 levels.
     * core.DEPTH_LIMIT is the same number.
     */
    static final int DEPTH_LIMIT = 960;

    /** CPython's default {@code sys.get_int_max_str_digits()}. */
    static final int MAX_INT_DIGITS = 4300;

    /** Malformed input: caught by the entry points and read as a miss. */
    private static final class Malformed extends RuntimeException {
        private static final long serialVersionUID = 1L;

        Malformed() {
            super(null, null, false, false);
        }
    }

    private static final Malformed MALFORMED = new Malformed();

    private final String s;
    private final int n;
    /** Whether the last scanned string held a backslash escape. */
    private boolean escaped;
    /** Kind of the last scanned literal or number. */
    private int scalarKind;
    private boolean[] stack = new boolean[16];

    // the lookup result: kind and the raw slice [start, end)
    int kind = MISSING;
    int start;
    int end;

    private JsonFinder(String s) {
        this.s = s;
        this.n = s.length();
    }

    // ------------------------------------------------------------ paths

    /**
     * A path: str keys and int indexes; a negative index or a null element
     * (a NULL key, reference src/common.rs:118-127) misses on every row.
     */
    static final class Path implements java.io.Serializable {
        private static final long serialVersionUID = 1L;

        /** Key per element, or null where the element is an index. */
        final String[] keys;
        final long[] indexes;
        /** A negative index or a null element: every row misses. */
        final boolean alwaysMissing;

        Path(List<?> elems) {
            int len = elems.size();
            keys = new String[len];
            indexes = new long[len];
            boolean missing = false;
            for (int k = 0; k < len; k++) {
                Object e = elems.get(k);
                if (e instanceof String) {
                    keys[k] = (String) e;
                } else {
                    // a null element reads as index -1, which never matches
                    indexes[k] = e == null ? -1 : ((Number) e).longValue();
                    missing |= indexes[k] < 0;
                }
            }
            alwaysMissing = missing;
        }

        /** The one-element path of a per-row key: a String, an integer or null. */
        static Path ofKey(Object key) {
            return new Path(Collections.singletonList(key));
        }

        int length() {
            return keys.length;
        }

        @Override
        public boolean equals(Object o) {
            return o instanceof Path
                && Arrays.equals(keys, ((Path) o).keys)
                && Arrays.equals(indexes, ((Path) o).indexes);
        }

        @Override
        public int hashCode() {
            return 31 * Arrays.hashCode(keys) + Arrays.hashCode(indexes);
        }
    }

    /**
     * The elements of a JSON array of strings and integers, e.g.
     * {@code ["a", 0]}; used to hand literal paths over from Python.
     * Integers outside the long range read as -1 (they can never match).
     */
    static List<Object> parseElements(String json) {
        List<Object> out = new ArrayList<>();
        Long len = length(json, new Path(List.of()));
        for (long k = 0; len != null && k < len; k++) {
            JsonFinder f = lookup(json, new Path(List.of(k)));
            if (f.kind == STR) {
                out.add(f.decodedString());
            } else if (f.kind == INT) {
                BigInteger v = new BigInteger(json.substring(f.start, f.end));
                out.add(v.bitLength() < 64 ? v.longValue() : -1L);
            } else {
                throw new IllegalArgumentException("bad path " + json);
            }
        }
        return out;
    }

    // ------------------------------------------------------ entry points

    /** core.find / core.find_raw: kind and raw slice of the value. */
    private static JsonFinder lookup(String s, Path p) {
        JsonFinder f = new JsonFinder(s);
        if (p.alwaysMissing) {
            return f;
        }
        try {
            int i = f.navigate(p);
            if (i >= 0) {
                f.capture(i);
            }
        } catch (Malformed e) {
            f.kind = MISSING;
        }
        return f;
    }

    static String getStr(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        return f.kind == STR ? f.outputString(f.start + 1, f.end - 1) : null;
    }

    static Long getInt(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        if (f.kind == INT) {
            return parseLong(s.substring(f.start, f.end));
        }
        return f.kind == STR ? parseIntLikeRust(f.decodedString()) : null;
    }

    static Double getFloat(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        String raw = f.kind == MISSING ? null : s.substring(f.start, f.end);
        Double v;
        if (f.kind == FLOAT) {
            v = Double.parseDouble(raw);
        } else if (f.kind == INT) {
            Long l = parseLong(raw);
            // the nearest double, rounding half to even like Python's
            // float(int); beyond the double range this is +-Infinity
            v = l != null ? (double) l : new BigInteger(raw).doubleValue();
        } else if (f.kind == STR) {
            v = parseFloatLikeRust(f.decodedString());
        } else {
            v = null;
        }
        // the Arrow output turns NaN into NULL (from_pandas=True)
        return v == null || v.isNaN() ? null : v;
    }

    static Boolean getBool(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        if (f.kind == BOOL) {
            return s.charAt(f.start) == 't';
        }
        return f.kind == STR ? parseBoolLikeRust(f.decodedString()) : null;
    }

    static boolean contains(String s, Path p) {
        return s != null && lookup(s, p).kind != MISSING;
    }

    /** json_get_json: the verbatim slice; JSON null is the text null. */
    static String getJson(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        return f.kind == MISSING ? null : s.substring(f.start, f.end);
    }

    /**
     * json_as_text (kernels.kernel_json_as_text): strings unquoted, JSON
     * null NULL, everything else as the document spells it.
     */
    static String asText(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        switch (f.kind) {
            case STR:
                return f.outputString(f.start + 1, f.end - 1);
            case MISSING:
            case NULL:
                return null;
            default:
                return s.substring(f.start, f.end);
        }
    }

    /** json_length: array elements or object members; else NULL. */
    static Long length(String s, Path p) {
        if (s == null || p.alwaysMissing) {
            return null;
        }
        JsonFinder f = new JsonFinder(s);
        try {
            int i = f.navigate(p);
            if (i < 0 || i >= f.n) {
                return null;
            }
            char c = s.charAt(i);
            if (c != '[' && c != '{') {
                return null;
            }
            char close = c == '[' ? ']' : '}';
            i = f.skipWs(i + 1);
            if (i < f.n && s.charAt(i) == close) {
                return 0L;
            }
            long count = 0;
            while (true) {
                if (c == '{') {
                    i = f.skipMemberName(i);
                }
                i = f.skipWs(f.skipValue(i));
                count++;
                if (i < f.n && s.charAt(i) == ',') {
                    i = f.skipWs(i + 1);
                    continue;
                }
                if (i < f.n && s.charAt(i) == close) {
                    return count;
                }
                throw MALFORMED;
            }
        } catch (Malformed e) {
            return null;
        }
    }

    // ---------------------------------------------------- union family

    /**
     * json_get (kernels.kernel_json_get): the union arm's type id and
     * value, or null for the null arm: JSON null, a miss, an integer
     * outside i64, a string holding a lone surrogate, an invalid document.
     */
    static Object[] getUnion(String s, Path p) {
        if (s == null) {
            return null;
        }
        JsonFinder f = lookup(s, p);
        Object v = f.unionValue();
        return v == null ? null : new Object[] {f.kind, v};
    }

    /**
     * The value the union arm of the current lookup holds: Boolean, Long,
     * Double, String, or the verbatim slice of a container; null for the
     * null arm.
     */
    private Object unionValue() {
        switch (kind) {
            case BOOL:
                return s.charAt(start) == 't';
            case INT:
                return parseLong(s.substring(start, end));
            case FLOAT:
                return Double.parseDouble(s.substring(start, end));
            case STR:
                return outputString(start + 1, end - 1);
            case ARRAY:
            case OBJECT:
                return s.substring(start, end);
            default:
                return null;
        }
    }

    /**
     * Canonical JSON text of a union arm (core.json_dumps_canonical):
     * floats as Python's repr, non-finite floats as null, strings quoted
     * like json.dumps(..., ensure_ascii=False), containers verbatim.
     */
    static String unionText(int kind, Object v) {
        switch (kind) {
            case BOOL:
                return (Boolean) v ? "true" : "false";
            case INT:
                return v.toString();
            case FLOAT:
                return floatText((Double) v);
            case STR:
                return quote((String) v);
            default:
                return (String) v;
        }
    }

    /** json_get_array: the verbatim element slices; else NULL. */
    static String[] getArray(String s, Path p) {
        if (s == null || p.alwaysMissing) {
            return null;
        }
        JsonFinder f = new JsonFinder(s);
        try {
            int i = f.navigate(p);
            if (i < 0 || i >= f.n || s.charAt(i) != '[') {
                return null;
            }
            List<String> items = new ArrayList<>();
            i = f.skipWs(i + 1);
            if (i < f.n && s.charAt(i) == ']') {
                return new String[0];
            }
            while (true) {
                int end = f.skipValue(i);
                items.add(s.substring(i, end));
                i = f.skipWs(end);
                if (i < f.n && s.charAt(i) == ',') {
                    i = f.skipWs(i + 1);
                    continue;
                }
                if (i < f.n && s.charAt(i) == ']') {
                    return items.toArray(new String[0]);
                }
                throw MALFORMED;
            }
        } catch (Malformed e) {
            return null;
        }
    }

    /**
     * json_object_keys: the unescaped keys in document order, duplicates
     * kept; NULL for a non-object, a miss, or a key holding a lone
     * surrogate.
     */
    static String[] objectKeys(String s, Path p) {
        if (s == null || p.alwaysMissing) {
            return null;
        }
        JsonFinder f = new JsonFinder(s);
        try {
            int i = f.navigate(p);
            if (i < 0 || i >= f.n || s.charAt(i) != '{') {
                return null;
            }
            List<String> keys = new ArrayList<>();
            boolean lone = false;
            i = f.skipWs(i + 1);
            if (i < f.n && s.charAt(i) == '}') {
                return new String[0];
            }
            while (true) {
                if (i >= f.n || s.charAt(i) != '"') {
                    throw MALFORMED;
                }
                int keyEnd = f.scanString(i + 1);
                String key = f.outputString(i + 1, keyEnd - 1);
                lone |= key == null;
                keys.add(key);
                i = f.skipWs(keyEnd);
                if (i >= f.n || s.charAt(i) != ':') {
                    throw MALFORMED;
                }
                i = f.skipWs(f.skipValue(f.skipWs(i + 1)));
                if (i < f.n && s.charAt(i) == ',') {
                    i = f.skipWs(i + 1);
                    continue;
                }
                if (i < f.n && s.charAt(i) == '}') {
                    return lone ? null : keys.toArray(new String[0]);
                }
                throw MALFORMED;
            }
        } catch (Malformed e) {
            return null;
        }
    }

    // ------------------------------------------------------ formatting

    /**
     * A float as json.dumps writes it: Python's repr (the shortest digits
     * that read back to the same double, the nearest such string, switching
     * to an exponent below 1e-4 and from 1e16), or null when non-finite.
     * Double.toString is not used: before JDK 19 it may print more digits
     * than needed (JDK-4511638).
     */
    static String floatText(double d) {
        if (Double.isNaN(d) || Double.isInfinite(d)) {
            return "null";
        }
        if (d == 0) {
            return Double.doubleToRawLongBits(d) < 0 ? "-0.0" : "0.0";
        }
        BigDecimal digits = shortest(Math.abs(d));
        String ds = digits.unscaledValue().toString();
        int decpt = ds.length() - digits.scale();
        StringBuilder b = new StringBuilder(24);
        if (d < 0) {
            b.append('-');
        }
        if (decpt > 16 || decpt < -3) {
            b.append(ds.charAt(0));
            if (ds.length() > 1) {
                b.append('.').append(ds, 1, ds.length());
            }
            int exp = decpt - 1;
            b.append(exp < 0 ? "e-" : "e+");
            if (Math.abs(exp) < 10) {
                b.append('0');
            }
            b.append(Math.abs(exp));
        } else if (decpt <= 0) {
            b.append("0.");
            for (int k = 0; k < -decpt; k++) {
                b.append('0');
            }
            b.append(ds);
        } else if (decpt >= ds.length()) {
            b.append(ds);
            for (int k = ds.length(); k < decpt; k++) {
                b.append('0');
            }
            b.append(".0");
        } else {
            b.append(ds, 0, decpt).append('.').append(ds, decpt, ds.length());
        }
        return b.toString();
    }

    /**
     * The shortest decimal that reads back as {@code d} (positive,
     * finite), the nearest one when several have that length, trailing
     * zeros stripped. If some p-digit decimal reads back, one with p + 1
     * digits does too, so the search walks down from a length that works:
     * Double.toString's, which reads back but may be a digit too long.
     */
    private static BigDecimal shortest(double d) {
        BigDecimal exact = new BigDecimal(d);
        int hi = new BigDecimal(Double.toString(d)).stripTrailingZeros().precision();
        BigDecimal best = readsBack(exact, hi, d);
        if (best == null) {
            hi = 17;
            best = readsBack(exact, hi, d);
        }
        for (int p = hi - 1; p >= 1; p--) {
            BigDecimal c = readsBack(exact, p, d);
            if (c == null) {
                break;
            }
            best = c;
        }
        return best.stripTrailingZeros();
    }

    /**
     * A {@code p}-digit decimal that reads back as {@code d}: the nearest
     * one (ties to even), else the nearest on the other side of
     * {@code d}; null when neither does.
     */
    private static BigDecimal readsBack(BigDecimal exact, int p, double d) {
        BigDecimal near = exact.round(new MathContext(p, RoundingMode.HALF_EVEN));
        if (near.doubleValue() == d) {
            return near;
        }
        RoundingMode other = near.compareTo(exact) > 0 ? RoundingMode.FLOOR
                                                        : RoundingMode.CEILING;
        BigDecimal far = exact.round(new MathContext(p, other));
        return far.doubleValue() == d ? far : null;
    }

    /** A string as json.dumps(s, ensure_ascii=False) quotes it. */
    static String quote(String v) {
        StringBuilder b = new StringBuilder(v.length() + 2).append('"');
        for (int i = 0; i < v.length(); i++) {
            char c = v.charAt(i);
            switch (c) {
                case '"':
                    b.append("\\\"");
                    break;
                case '\\':
                    b.append("\\\\");
                    break;
                case '\n':
                    b.append("\\n");
                    break;
                case '\r':
                    b.append("\\r");
                    break;
                case '\t':
                    b.append("\\t");
                    break;
                case '\b':
                    b.append("\\b");
                    break;
                case '\f':
                    b.append("\\f");
                    break;
                default:
                    if (c < 0x20) {
                        b.append(String.format("\\u%04x", (int) c));
                    } else {
                        b.append(c);
                    }
            }
        }
        return b.append('"').toString();
    }

    // ------------------------------------------------------- coercions

    /** Rust i64::from_str: optional sign, ASCII digits, in range. */
    static Long parseIntLikeRust(String v) {
        if (v.isEmpty()) {
            return null;
        }
        int from = v.charAt(0) == '+' || v.charAt(0) == '-' ? 1 : 0;
        if (from == v.length()) {
            return null;
        }
        for (int i = from; i < v.length(); i++) {
            char c = v.charAt(i);
            if (c < '0' || c > '9') {
                return null;
            }
        }
        return parseLong(v);
    }

    /**
     * core.parse_float_like_rust: inf/infinity/nan in any case with an
     * optional sign; otherwise whatever Python's float() accepts, except
     * surrounding whitespace and underscores. Like float(), Unicode
     * decimal digits count as digits.
     */
    static Double parseFloatLikeRust(String v) {
        if (v.isEmpty()) {
            return null;
        }
        if (isPySpace(v.codePointAt(0))
                || isPySpace(v.codePointBefore(v.length()))) {
            return null;
        }
        String low = asciiLower(v);
        boolean signed = low.charAt(0) == '+' || low.charAt(0) == '-';
        String body = signed ? low.substring(1) : low;
        if (body.equals("inf") || body.equals("infinity")) {
            return low.charAt(0) == '-' ? Double.NEGATIVE_INFINITY
                                        : Double.POSITIVE_INFINITY;
        }
        if (body.equals("nan")) {
            return Double.NaN;
        }
        StringBuilder ascii = new StringBuilder(v.length());
        for (int i = 0; i < v.length(); ) {
            int cp = v.codePointAt(i);
            i += Character.charCount(cp);
            if (cp < 128) {
                ascii.append((char) cp);
            } else if (Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER) {
                ascii.append((char) ('0' + Character.digit(cp, 10)));
            } else {
                return null;
            }
        }
        String t = ascii.toString();
        return FLOAT_TEXT.matcher(t).matches() ? Double.parseDouble(t) : null;
    }

    private static final java.util.regex.Pattern FLOAT_TEXT =
        java.util.regex.Pattern.compile(
            "[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?");

    /** Rust bool::from_str: exactly true or false. */
    static Boolean parseBoolLikeRust(String v) {
        if (v.equals("true")) {
            return Boolean.TRUE;
        }
        return v.equals("false") ? Boolean.FALSE : null;
    }

    /** Python's str.isspace(), which str.strip() removes. */
    private static boolean isPySpace(int cp) {
        return (cp >= 0x09 && cp <= 0x0d) || (cp >= 0x1c && cp <= 0x20)
            || cp == 0x85 || cp == 0xa0 || cp == 0x1680
            || (cp >= 0x2000 && cp <= 0x200a) || cp == 0x2028
            || cp == 0x2029 || cp == 0x202f || cp == 0x205f || cp == 0x3000;
    }

    private static String asciiLower(String v) {
        char[] out = v.toCharArray();
        for (int i = 0; i < out.length; i++) {
            if (out[i] >= 'A' && out[i] <= 'Z') {
                out[i] = (char) (out[i] + ('a' - 'A'));
            }
        }
        return new String(out);
    }

    /** A JSON integer literal as a long, or null outside i64. */
    private static Long parseLong(String raw) {
        if (raw.length() <= 18) {
            return Long.parseLong(raw);
        }
        BigInteger v = new BigInteger(raw);
        return v.bitLength() < 64 ? v.longValue() : null;
    }

    // -------------------------------------------------------- scanning

    private int skipWs(int i) {
        while (i < n) {
            char c = s.charAt(i);
            if (c != ' ' && c != '\t' && c != '\n' && c != '\r') {
                break;
            }
            i++;
        }
        return i;
    }

    /** core._navigate: the value index, or -1 on a miss. */
    private int navigate(Path p) {
        int i = skipWs(0);
        if (i >= n) {
            return -1;
        }
        for (int k = 0; k < p.length() && i >= 0; k++) {
            i = p.keys[k] != null ? descendKey(i, p.keys[k])
                                  : descendIndex(i, p.indexes[k]);
        }
        return i;
    }

    /** core._descend_key: linear scan, first match wins. */
    private int descendKey(int i, String key) {
        i = skipWs(i);
        if (i >= n || s.charAt(i) != '{') {
            return -1;
        }
        i = skipWs(i + 1);
        if (i < n && s.charAt(i) == '}') {
            return -1;
        }
        while (true) {
            if (i >= n || s.charAt(i) != '"') {
                throw MALFORMED;
            }
            int keyStart = i + 1;
            int keyEnd = scanString(keyStart);
            boolean match = escaped
                ? decode(keyStart, keyEnd - 1).equals(key)
                : keyEnd - 1 - keyStart == key.length()
                    && s.regionMatches(keyStart, key, 0, key.length());
            i = skipWs(keyEnd);
            if (i >= n || s.charAt(i) != ':') {
                throw MALFORMED;
            }
            i = skipWs(i + 1);
            if (match) {
                return i;
            }
            i = skipWs(skipValue(i));
            if (i < n && s.charAt(i) == ',') {
                i = skipWs(i + 1);
                continue;
            }
            if (i < n && s.charAt(i) == '}') {
                return -1;
            }
            throw MALFORMED;
        }
    }

    /** core._descend_index. */
    private int descendIndex(int i, long idx) {
        i = skipWs(i);
        if (i >= n || s.charAt(i) != '[') {
            return -1;
        }
        i = skipWs(i + 1);
        if (i < n && s.charAt(i) == ']') {
            return -1;
        }
        for (long pos = 0; ; pos++) {
            if (pos == idx) {
                return i;
            }
            i = skipWs(skipValue(i));
            if (i < n && s.charAt(i) == ',') {
                i = skipWs(i + 1);
                continue;
            }
            if (i < n && s.charAt(i) == ']') {
                return -1;
            }
            throw MALFORMED;
        }
    }

    /** Kind and extent of the value at {@code i} (core.find_raw). */
    private void capture(int i) {
        if (i >= n) {
            throw MALFORMED;
        }
        char c = s.charAt(i);
        start = i;
        if (c == '{' || c == '[') {
            end = skipValue(i);
            kind = c == '{' ? OBJECT : ARRAY;
        } else if (c == '"') {
            end = scanString(i + 1);
            kind = STR;
        } else {
            end = scanScalar(i);
            kind = scalarKind;
        }
    }

    /** The object member name at {@code i} and its colon. */
    private int skipMemberName(int i) {
        if (i >= n || s.charAt(i) != '"') {
            throw MALFORMED;
        }
        i = skipWs(scanString(i + 1));
        if (i >= n || s.charAt(i) != ':') {
            throw MALFORMED;
        }
        return skipWs(i + 1);
    }

    /**
     * Index just past the JSON value starting exactly at {@code i}, with
     * CPython's strict scanner grammar. Iterative: containers are tracked
     * on an explicit stack, and nesting beyond the limit is malformed.
     */
    private int skipValue(int i) {
        int depth = 0;
        while (true) {
            // a value starts at i
            if (i >= n) {
                throw MALFORMED;
            }
            char c = s.charAt(i);
            if (c == '{' || c == '[') {
                if (++depth > DEPTH_LIMIT) {
                    throw MALFORMED;
                }
                if (depth >= stack.length) {
                    stack = Arrays.copyOf(stack, stack.length * 2);
                }
                boolean object = c == '{';
                stack[depth] = object;
                i = skipWs(i + 1);
                if (i < n && s.charAt(i) == (object ? '}' : ']')) {
                    i++;
                    depth--;
                } else {
                    if (object) {
                        i = skipMemberName(i);
                    }
                    continue;
                }
            } else if (c == '"') {
                i = scanString(i + 1);
            } else {
                i = scanScalar(i);
            }
            // after a value: close containers or move to the next member
            while (true) {
                if (depth == 0) {
                    return i;
                }
                boolean object = stack[depth];
                i = skipWs(i);
                if (i < n && s.charAt(i) == ',') {
                    i = skipWs(i + 1);
                    if (object) {
                        i = skipMemberName(i);
                    }
                    break;
                }
                if (i < n && s.charAt(i) == (object ? '}' : ']')) {
                    i++;
                    depth--;
                    continue;
                }
                throw MALFORMED;
            }
        }
    }

    /**
     * A literal or number at {@code i} (CPython scan_once): sets
     * {@link #scalarKind} and returns its end. Numbers follow
     * _match_number_unicode: a fraction needs a digit after the point and
     * an exponent a digit after its sign, else the number ends before
     * them.
     */
    private int scanScalar(int i) {
        char c = s.charAt(i);
        if (c == 'n' && s.startsWith("null", i)) {
            scalarKind = NULL;
            return i + 4;
        }
        if (c == 't' && s.startsWith("true", i)) {
            scalarKind = BOOL;
            return i + 4;
        }
        if (c == 'f' && s.startsWith("false", i)) {
            scalarKind = BOOL;
            return i + 5;
        }
        int j = i;
        if (c == '-') {
            j++;
        }
        if (j >= n) {
            throw MALFORMED;
        }
        char d = s.charAt(j);
        if (d >= '1' && d <= '9') {
            j = digits(j + 1);
        } else if (d == '0') {
            j++;
        } else {
            throw MALFORMED;
        }
        boolean isFloat = false;
        if (j + 1 < n && s.charAt(j) == '.' && isDigit(s.charAt(j + 1))) {
            isFloat = true;
            j = digits(j + 2);
        }
        if (j + 1 < n && (s.charAt(j) == 'e' || s.charAt(j) == 'E')) {
            int k = j + 1;
            if (k + 1 < n && (s.charAt(k) == '-' || s.charAt(k) == '+')) {
                k++;
            }
            int e = digits(k);
            if (e > k) {
                isFloat = true;
                j = e;
            }
        }
        if (!isFloat && j - i - (c == '-' ? 1 : 0) > MAX_INT_DIGITS) {
            throw MALFORMED;
        }
        scalarKind = isFloat ? FLOAT : INT;
        return j;
    }

    private int digits(int j) {
        while (j < n && isDigit(s.charAt(j))) {
            j++;
        }
        return j;
    }

    private static boolean isDigit(char c) {
        return c >= '0' && c <= '9';
    }

    /**
     * A string body starting after its opening quote (CPython's strict
     * scanstring); returns the index after the closing quote and records
     * in {@link #escaped} whether it held an escape.
     */
    private int scanString(int i) {
        escaped = false;
        while (true) {
            if (i >= n) {
                throw MALFORMED;
            }
            char c = s.charAt(i);
            if (c == '"') {
                return i + 1;
            }
            if (c < 0x20) {
                throw MALFORMED;
            }
            if (c != '\\') {
                i++;
                continue;
            }
            escaped = true;
            if (i + 1 >= n) {
                throw MALFORMED;
            }
            char e = s.charAt(i + 1);
            if (e == 'u') {
                if (i + 6 >= n) {
                    throw MALFORMED;
                }
                for (int k = i + 2; k < i + 6; k++) {
                    char h = s.charAt(k);
                    if (!isDigit(h) && (h < 'a' || h > 'f') && (h < 'A' || h > 'F')) {
                        throw MALFORMED;
                    }
                }
                i += 6;
            } else if ("\"\\/bfnrt".indexOf(e) >= 0) {
                i += 2;
            } else {
                throw MALFORMED;
            }
        }
    }

    private String decodedString() {
        return decode(start + 1, end - 1);
    }

    /**
     * A scanned string body [from, to) as a result value: its text, or
     * null when an escape left a lone surrogate, which jiter and
     * serde_json reject and Spark's UTF-8 strings cannot hold.
     */
    private String outputString(int from, int to) {
        String v = decode(from, to);
        for (int i = 0; i < v.length(); i++) {
            char c = v.charAt(i);
            if (Character.isHighSurrogate(c) && i + 1 < v.length()
                    && Character.isLowSurrogate(v.charAt(i + 1))) {
                i++;
            } else if (Character.isSurrogate(c)) {
                return null;
            }
        }
        return v;
    }

    /** The text of a scanned string body [from, to), escapes resolved. */
    private String decode(int from, int to) {
        int bs = s.indexOf('\\', from);
        if (bs < 0 || bs >= to) {
            return s.substring(from, to);
        }
        StringBuilder b = new StringBuilder(to - from);
        b.append(s, from, bs);
        for (int i = bs; i < to; ) {
            char c = s.charAt(i);
            if (c != '\\') {
                b.append(c);
                i++;
                continue;
            }
            char e = s.charAt(i + 1);
            switch (e) {
                case 'u':
                    b.append((char) Integer.parseInt(s.substring(i + 2, i + 6), 16));
                    i += 6;
                    continue;
                case 'b':
                    b.append('\b');
                    break;
                case 'f':
                    b.append('\f');
                    break;
                case 'n':
                    b.append('\n');
                    break;
                case 'r':
                    b.append('\r');
                    break;
                case 't':
                    b.append('\t');
                    break;
                default:
                    b.append(e);
            }
            i += 2;
        }
        return b.toString();
    }
}
