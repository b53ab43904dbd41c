package jsonsparkext;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.regex.Matcher;
import java.util.regex.Pattern;

/**
 * JVM twin of the Python pre-processor
 * datafusion_functions_json_spark/sql.py::rewrite_sql — rewrites the
 * PostgreSQL JSON operators {@code ->}, {@code ->>}, {@code ?} into the
 * registered JSON function calls so they work in un-preprocessed
 * {@code spark.sql(...)} when the extension is injected
 * (reference semantics: src/rewrite.rs:112-198 of
 * datafusion-functions-json; see sql.py's module docstring for the
 * behavior contract, including the lambda-arrow and
 * positional-parameter guards).
 *
 * The Python rewriter is the source of truth; this port is pinned to it
 * by a byte-for-byte differential over the full Python test corpus
 * (tests/test_jvm_extension.py) via the {@link #main} stdin harness.
 * Plan-error parity: a NULL/float path literal raises here — i.e. at
 * PARSE time when injected, earlier than the Python path's
 * execution-time errors and matching the reference's plan-time checks
 * (reference tests/main.rs:291-298).
 */
public final class JsonOperatorRewriter {

    private JsonOperatorRewriter() {}

    // ------------------------------------------------------------ tokens

    private static final Pattern TOKEN = Pattern.compile(
        "(?<ws>\\s+)"
        + "|(?<lcomment>--[^\\n]*)"
        + "|(?<bcomment>/\\*.*?\\*/)"
        + "|(?<string>'(?:[^'\\\\]|\\\\.|'')*')"
        + "|(?<dquote>\"(?:[^\"\\\\]|\\\\.|\"\")*\")"
        + "|(?<btick>`(?:[^`]|``)*`)"
        + "|(?<number>(?:\\d+\\.\\d*|\\.\\d+|\\d+)(?:[eE][+-]?\\d+)?[dDfFlL]?)"
        + "|(?<ident>[A-Za-z_][A-Za-z0-9_]*)"
        + "|(?<longarrow>->>)"
        + "|(?<arrow>->)"
        + "|(?<question>\\?)"
        + "|(?<punct>(?s).)",
        // UNICODE_CHARACTER_CLASS: Python's str-mode \s and \d are
        // Unicode-aware (NBSP is whitespace, Unicode digits are \d);
        // without the flag Java's are ASCII-only and an NBSP-separated
        // `j ->> 'k'` tokenized differently in the two rewriters
        // (pinned by the NBSP rows in the differential corpus)
        Pattern.DOTALL | Pattern.UNICODE_CHARACTER_CLASS);

    private static final String[] KINDS = {
        "ws", "lcomment", "bcomment", "string", "dquote", "btick",
        "number", "ident", "longarrow", "arrow", "question", "punct",
    };

    private static final Set<String> TRIVIA =
        new HashSet<>(Arrays.asList("ws", "lcomment", "bcomment"));

    private static final Map<String, String> OPS = new HashMap<>();
    private static final Map<String, String> OP_SPELLING = new HashMap<>();
    static {
        OPS.put("arrow", "json_get");
        OPS.put("longarrow", "json_as_text");
        OPS.put("question", "json_contains");
        OP_SPELLING.put("arrow", "->");
        OP_SPELLING.put("longarrow", "->>");
        OP_SPELLING.put("question", "?");
    }

    // an operator builds only json_get, json_as_text and json_contains;
    // json_contains is deliberately absent (reference: src/rewrite.rs:59-68)
    private static final Set<String> UNNEST_OUTER = new HashSet<>(Arrays.asList(
        "json_get", "json_as_text"));

    // The tables below copy datafusion_functions_json_spark/functions/
    // signatures.py (CAST_ELISION, and the SQL names with and without a
    // path), which the differential in tests/test_jvm_extension.py
    // replays call by call.

    private static final Map<String, String> CAST_ELISION = new HashMap<>();
    static {
        CAST_ELISION.put("int", "json_get_int");
        CAST_ELISION.put("integer", "json_get_int");
        CAST_ELISION.put("bigint", "json_get_int");
        CAST_ELISION.put("long", "json_get_int");
        CAST_ELISION.put("smallint", "json_get_int");
        CAST_ELISION.put("tinyint", "json_get_int");
        CAST_ELISION.put("float", "json_get_float");
        CAST_ELISION.put("double", "json_get_float");
        CAST_ELISION.put("real", "json_get_float");
        CAST_ELISION.put("decimal", "json_get_float");
        CAST_ELISION.put("boolean", "json_get_bool");
        CAST_ELISION.put("bool", "json_get_bool");
        CAST_ELISION.put("string", "json_get_str");
        CAST_ELISION.put("str", "json_get_str");
        CAST_ELISION.put("varchar", "json_get_str");
        CAST_ELISION.put("text", "json_get_str");
    }

    private static final Set<String> PATH_FNS = new HashSet<>(Arrays.asList(
        "json_get", "json_get_str", "json_get_int", "json_get_float",
        "json_get_bool", "json_get_json", "json_get_array", "json_as_text",
        "json_contains", "json_length", "json_len", "json_object_keys",
        "json_keys", "json_get_str_exact", "json_get_int_exact",
        "json_get_float_exact", "json_get_bool_exact", "json_get_json_exact",
        "json_get_array_exact", "json_as_text_exact", "json_contains_exact"));

    private static final Set<String> HOF_NAMES = new HashSet<>(Arrays.asList(
        "transform", "filter", "exists", "forall", "aggregate", "reduce",
        "zip_with", "map_filter", "map_zip_with", "transform_keys",
        "transform_values", "array_sort"));

    private static final Set<String> KEYWORDS = new HashSet<>(Arrays.asList(
        "select", "distinct", "all", "from", "where", "and", "or", "not",
        "in", "exists", "between", "like", "rlike", "ilike", "is", "as",
        "on", "using", "join", "inner", "left", "right", "full", "cross",
        "group", "by", "having", "order", "limit", "union", "except",
        "intersect", "values", "when", "then", "else", "case", "end",
        "over", "partition", "window", "lateral", "view", "null",
        "true", "false", "interval"));

    // the SQL names taking exactly one argument
    private static final Set<String> UNARY_FNS = new HashSet<>(Arrays.asList(
        "json_union_to_text", "json_is_null", "json_from_scalar",
        "scalar_to_json"));

    private static final Set<String> CAST_KEY_TYPES = new HashSet<>(
        Arrays.asList("text", "varchar", "string", "int", "integer", "bigint"));

    private static final Pattern INT_LIT = Pattern.compile("-?\\d+");
    private static final Pattern LITERAL_ARG =
        Pattern.compile("^(?:'(?:[^'\\\\]|\\\\.|'')*'|-?\\d+)$");
    private static final Pattern FLOAT_LIT = Pattern.compile(
        "\\d+\\.\\d*|\\.\\d+|\\d+[eE][+-]?\\d+|\\d+\\.\\d*[eE][+-]?\\d+");
    private static final Pattern IDENT_PATH =
        Pattern.compile("^[A-Za-z_][A-Za-z0-9_.]*$");

    private static final class Tok {
        String kind;
        String text;
        String fn;            // kind == "call"
        List<String> args;    // kind == "call"
        String alias;         // reference operator-spelling alias
        boolean literalPath;

        Tok(String kind, String text) {
            this.kind = kind;
            this.text = text;
        }
    }

    private static List<Tok> tokenize(String q) {
        List<Tok> out = new ArrayList<>();
        Matcher m = TOKEN.matcher(q);
        while (m.find()) {
            for (String k : KINDS) {
                if (m.group(k) != null) {
                    out.add(new Tok(k, m.group(k)));
                    break;
                }
            }
        }
        return out;
    }

    private static int prev(List<Tok> toks, int i) {
        i -= 1;
        while (i >= 0 && TRIVIA.contains(toks.get(i).kind)) i -= 1;
        return i;
    }

    private static int next(List<Tok> toks, int i) {
        i += 1;
        while (i < toks.size() && TRIVIA.contains(toks.get(i).kind)) i += 1;
        return i < toks.size() ? i : -1;
    }

    private static boolean isIntLiteral(Tok t) {
        return t.kind.equals("number") && INT_LIT.matcher(t.text).matches();
    }

    private static void planError(String fn, int pos, String got) {
        throw new IllegalArgumentException(
            "Error during planning: Unexpected argument type to '" + fn
            + "' at position " + pos + ", expected string or int, got "
            + got + ".");
    }

    private static String enclosingCallName(List<Tok> toks, int i) {
        int depth = 0;
        for (int j = i - 1; j >= 0; j--) {
            Tok t = toks.get(j);
            if (t.kind.equals("punct") && t.text.equals(")")) {
                depth += 1;
            } else if (t.kind.equals("punct") && t.text.equals("(")) {
                if (depth == 0) {
                    int k = prev(toks, j);
                    if (k >= 0 && toks.get(k).kind.equals("ident")) {
                        return toks.get(k).text.toLowerCase();
                    }
                    return null;
                }
                depth -= 1;
            }
        }
        return null;
    }

    private static final class Operand {
        int start;
        int end;
        Tok tok;        // call metadata when the operand is a function call
        String repr;
        boolean bareIdent;
        boolean paramList; // bare paren group of comma-separated idents
    }

    private static Operand leftOperand(List<Tok> toks, int opIdx) {
        int end = prev(toks, opIdx);
        if (end < 0) return null;
        Tok t = toks.get(end);
        Operand o = new Operand();
        if (t.kind.equals("call")) {
            o.start = end; o.end = end; o.tok = t;
            o.repr = t.alias != null ? t.alias : t.text;
            return o;
        }
        if (t.kind.equals("string") || t.kind.equals("number")) {
            o.start = end; o.end = end; o.repr = t.text;
            return o;
        }
        if (t.kind.equals("ident") && KEYWORDS.contains(t.text.toLowerCase())) {
            return null;
        }
        if (t.kind.equals("ident") || t.kind.equals("dquote") || t.kind.equals("btick")) {
            int start = end;
            while (true) {
                int p = prev(toks, start);
                if (p >= 0 && toks.get(p).kind.equals("punct")
                        && toks.get(p).text.equals(".")) {
                    int pp = prev(toks, p);
                    if (pp >= 0 && (toks.get(pp).kind.equals("ident")
                            || toks.get(pp).kind.equals("dquote")
                            || toks.get(pp).kind.equals("btick"))) {
                        start = pp;
                        continue;
                    }
                }
                break;
            }
            String name = toks.get(end).text;
            if (toks.get(end).kind.equals("dquote") || toks.get(end).kind.equals("btick")) {
                name = name.substring(1, name.length() - 1);
            }
            o.start = start; o.end = end; o.repr = name;
            o.bareIdent = start == end && toks.get(end).kind.equals("ident");
            return o;
        }
        if (t.kind.equals("punct") && t.text.equals(")")) {
            int depth = 0;
            int j = end;
            while (j >= 0) {
                Tok tj = toks.get(j);
                if (tj.kind.equals("punct") && tj.text.equals(")")) {
                    depth += 1;
                } else if (tj.kind.equals("punct") && tj.text.equals("(")) {
                    depth -= 1;
                    if (depth == 0) break;
                }
                j -= 1;
            }
            if (j < 0) return null;
            int start = j;
            String fn = null;
            int p = prev(toks, j);
            if (p >= 0 && toks.get(p).kind.equals("ident")
                    && !KEYWORDS.contains(toks.get(p).text.toLowerCase())) {
                start = p;
                fn = toks.get(p).text.toLowerCase();
            }
            StringBuilder src = new StringBuilder();
            for (int k = start; k <= end; k++) src.append(toks.get(k).text);
            o.start = start; o.end = end; o.repr = src.toString();
            if (fn == null) {
                // lambda-parameter list detection: (x, y) inside a HOF
                boolean any = false;
                boolean all = true;
                for (int k = j + 1; k < end; k++) {
                    Tok tk = toks.get(k);
                    if (TRIVIA.contains(tk.kind)) continue;
                    if (tk.kind.equals("ident")) { any = true; continue; }
                    if (tk.kind.equals("punct") && tk.text.equals(",")) continue;
                    all = false;
                    break;
                }
                o.paramList = any && all;
            }
            if (fn != null) {
                List<String> args = splitCallArgs(toks, j, end);
                Tok call = new Tok("call", src.toString());
                call.fn = fn;
                call.args = args;
                boolean lit = true;
                for (int k = 1; k < args.size(); k++) {
                    if (!argIsLiteral(args.get(k))) { lit = false; break; }
                }
                call.literalPath = lit;
                o.tok = call;
            }
            return o;
        }
        return null;
    }

    private static List<String> splitCallArgs(List<Tok> toks, int openIdx, int closeIdx) {
        List<String> args = new ArrayList<>();
        StringBuilder cur = new StringBuilder();
        int depth = 0;
        for (int i = openIdx + 1; i < closeIdx; i++) {
            Tok t = toks.get(i);
            if (t.kind.equals("punct") && t.text.equals("(")) depth += 1;
            else if (t.kind.equals("punct") && t.text.equals(")")) depth -= 1;
            if (depth == 0 && t.kind.equals("punct") && t.text.equals(",")) {
                args.add(cur.toString().trim());
                cur.setLength(0);
            } else {
                cur.append(t.text);
            }
        }
        String tail = cur.toString().trim();
        if (!tail.isEmpty()) args.add(tail);
        return args;
    }

    private static boolean argIsLiteral(String argSrc) {
        return LITERAL_ARG.matcher(argSrc.trim()).matches();
    }

    private static void validateArity(String fn, List<String> args) {
        int got = (args.size() == 1 && args.get(0).isEmpty()) ? 0 : args.size();
        if (got != 1) {
            throw new IllegalArgumentException(
                "The function '" + fn + "' expected 1 arguments but received "
                + got + ".");
        }
    }

    private static void validatePathArgs(String fn, List<String> args) {
        int nPath = args.size() - 1;
        for (int i = 1; i < args.size(); i++) {
            String s = args.get(i).trim();
            int pos = i + 1;
            if (s.toLowerCase().equals("null")) planError(fn, pos, "Null");
            if (FLOAT_LIT.matcher(s).matches()) planError(fn, pos, "Float64");
            if (nPath > 1 && IDENT_PATH.matcher(s).matches()
                    && !s.toLowerCase().equals("null")) {
                throw new IllegalArgumentException(
                    "More than 1 path element is not supported when "
                    + "querying JSON using an array.");
            }
        }
    }

    /** After a cast-type ident: {typeSpanEnd, paramOpenIdx}; end = -1
     *  for an unbalanced parameter list (elision must not fire),
     *  paramOpenIdx = -1 when the type has no parameters. */
    private static int[] scanTypeParams(List<Tok> toks, int ty) {
        int nx = next(toks, ty);
        if (!(nx >= 0 && toks.get(nx).kind.equals("punct")
                && toks.get(nx).text.equals("("))) {
            return new int[] {ty, -1};
        }
        int depth = 0;
        for (int k = nx; k < toks.size(); k++) {
            Tok tk = toks.get(k);
            if (tk.kind.equals("punct") && tk.text.equals("(")) depth += 1;
            else if (tk.kind.equals("punct") && tk.text.equals(")")) {
                depth -= 1;
                if (depth == 0) return new int[] {k, nx};
            }
        }
        return new int[] {-1, -1};
    }

    private static String paramsText(List<Tok> toks, int ty, int[] scan) {
        if (scan[1] < 0) return "";
        StringBuilder sb = new StringBuilder();
        for (int k = scan[1]; k <= scan[0]; k++) sb.append(toks.get(k).text);
        return sb.toString();
    }

    private static final Set<String> INT_KEY_TYPES =
        new HashSet<>(Arrays.asList("int", "integer", "bigint"));
    private static final Set<String> TEXT_KEY_TYPES =
        new HashSet<>(Arrays.asList("text", "varchar", "string"));

    /** Constant-fold (<literal> :: type) to the literal the cast
     *  evaluates to; null = fold unproven, skip the collapse. */
    private static Tok foldCastKey(Tok lit, String castTy) {
        if (castTy == null) return lit;
        if (TEXT_KEY_TYPES.contains(castTy)) {
            if (lit.kind.equals("string")) return lit;
            if (isIntLiteral(lit)) return new Tok("string", "'" + lit.text + "'");
            return null;
        }
        if (INT_KEY_TYPES.contains(castTy)) {
            if (isIntLiteral(lit)) return lit;
            if (lit.kind.equals("string")) {
                String inner = lit.text.substring(1, lit.text.length() - 1);
                if (inner.matches("-?\\d+")) return new Tok("number", inner);
            }
            return null;
        }
        return null;
    }

    private static void collapseCastKeys(List<Tok> toks) {
        int i = 0;
        while (i < toks.size()) {
            Tok t = toks.get(i);
            if (t.kind.equals("arrow") || t.kind.equals("longarrow")) {
                int j = next(toks, i);
                if (j >= 0 && toks.get(j).kind.equals("punct")
                        && toks.get(j).text.equals("(")) {
                    int k = next(toks, j);
                    if (k >= 0 && (toks.get(k).kind.equals("string")
                            || isIntLiteral(toks.get(k)))) {
                        int m = next(toks, k);
                        boolean ok = true;
                        String castTy = null;
                        if (m >= 0 && toks.get(m).kind.equals("punct")
                                && toks.get(m).text.equals(":")) {
                            int m2 = next(toks, m);
                            int m3 = m2 >= 0 ? next(toks, m2) : -1;
                            if (m2 >= 0 && toks.get(m2).kind.equals("punct")
                                    && toks.get(m2).text.equals(":")
                                    && m3 >= 0
                                    && toks.get(m3).kind.equals("ident")
                                    && CAST_KEY_TYPES.contains(
                                        toks.get(m3).text.toLowerCase())) {
                                castTy = toks.get(m3).text.toLowerCase();
                                m = next(toks, m3);
                            } else {
                                ok = false;
                            }
                        }
                        if (ok && m >= 0 && toks.get(m).kind.equals("punct")
                                && toks.get(m).text.equals(")")) {
                            Tok lit = foldCastKey(toks.get(k), castTy);
                            if (lit != null) {
                                // replace span [j, m] with the folded literal
                                for (int d = m; d >= j; d--) toks.remove(d);
                                toks.add(j, lit);
                            }
                        }
                    }
                }
            }
            i += 1;
        }
    }

    // ------------------------------------------------------------ rewrite

    public static String rewrite(String query) {
        List<Tok> toks = tokenize(query);
        collapseCastKeys(toks);

        // operator rewriting, left-to-right until fixpoint
        while (true) {
            int opIdx = -1;
            for (int i = 0; i < toks.size(); i++) {
                if (OPS.containsKey(toks.get(i).kind)) { opIdx = i; break; }
            }
            if (opIdx < 0) break;
            Tok tOp = toks.get(opIdx);
            String fn = OPS.get(tOp.kind);
            int rIdx = next(toks, opIdx);
            Tok right = rIdx >= 0 ? toks.get(rIdx) : null;

            // negative index: merge punct '-' + number into one token
            if (right != null && right.kind.equals("punct")
                    && right.text.equals("-")) {
                int r2 = next(toks, rIdx);
                if (r2 >= 0 && toks.get(r2).kind.equals("number")) {
                    Tok merged = new Tok("number", "-" + toks.get(r2).text);
                    for (int d = r2; d >= rIdx; d--) toks.remove(d);
                    toks.add(rIdx, merged);
                    right = merged;
                }
            }

            boolean rightIsPath = right != null
                && (right.kind.equals("string") || isIntLiteral(right));
            boolean rightIsNull = right != null && right.kind.equals("ident")
                && right.text.toLowerCase().equals("null");
            boolean rightIsFloat = right != null && right.kind.equals("number")
                && !isIntLiteral(right);
            Operand left = (rightIsPath || rightIsNull || rightIsFloat)
                ? leftOperand(toks, opIdx) : null;
            if (left != null && (left.bareIdent || left.paramList)) {
                String encl = enclosingCallName(toks, left.start);
                if (encl != null && HOF_NAMES.contains(encl)) left = null;
            }
            if (left == null) {
                tOp.kind = "punct"; // genuine lambda arrow / positional ?
                continue;
            }
            if (rightIsNull) planError(fn, 2, "Null");
            if (rightIsFloat) planError(fn, 2, "Float64");

            Tok inner = left.tok;
            List<String> args;
            if (inner != null && inner.kind.equals("call")
                    && "json_get".equals(inner.fn)
                    && UNNEST_OUTER.contains(fn)
                    && inner.literalPath
                    && inner.args != null && !inner.args.isEmpty()) {
                args = new ArrayList<>(inner.args);
                args.add(right.text);
            } else {
                StringBuilder l = new StringBuilder();
                for (int k = left.start; k <= left.end; k++) {
                    l.append(toks.get(k).text);
                }
                args = new ArrayList<>();
                args.add(l.toString());
                args.add(right.text);
            }
            String alias = left.repr + " " + OP_SPELLING.get(tOp.kind) + " "
                + right.text;
            Tok call = new Tok(
                "call", fn + "(" + String.join(", ", args) + ")");
            call.fn = fn;
            call.args = args;
            call.alias = alias;
            boolean lit = true;
            for (int k = 1; k < args.size(); k++) {
                if (!argIsLiteral(args.get(k))) { lit = false; break; }
            }
            call.literalPath = lit;
            for (int d = rIdx; d >= left.start; d--) toks.remove(d);
            toks.add(left.start, call);
        }

        // cast elision over rewritten json_get chains
        boolean changed = true;
        while (changed) {
            changed = false;
            for (int i = 0; i < toks.size(); i++) {
                Tok t = toks.get(i);
                if (!t.kind.equals("call") || !"json_get".equals(t.fn)) continue;
                int spanStart = i, spanEnd = i;
                // unwrap EVERY pure paren wrap
                while (true) {
                    int p = prev(toks, spanStart);
                    int n = next(toks, spanEnd);
                    if (p >= 0 && toks.get(p).kind.equals("punct")
                            && toks.get(p).text.equals("(")
                            && n >= 0 && toks.get(n).kind.equals("punct")
                            && toks.get(n).text.equals(")")) {
                        int pp = prev(toks, p);
                        boolean isCallArgs = pp >= 0
                            && toks.get(pp).kind.equals("ident")
                            && !KEYWORDS.contains(
                                toks.get(pp).text.toLowerCase());
                        if (isCallArgs) break;
                        spanStart = p;
                        spanEnd = n;
                        continue;
                    }
                    break;
                }
                int after = next(toks, spanEnd);
                String newFn = null;
                String shellType = null;
                if (after >= 0 && toks.get(after).kind.equals("punct")
                        && toks.get(after).text.equals(":")
                        && after + 1 < toks.size()
                        && toks.get(after + 1).kind.equals("punct")
                        && toks.get(after + 1).text.equals(":")) {
                    int ty = next(toks, after + 1);
                    if (ty >= 0 && toks.get(ty).kind.equals("ident")) {
                        String cand = CAST_ELISION.get(
                            toks.get(ty).text.toLowerCase());
                        if (cand != null) {
                            int[] scan = scanTypeParams(toks, ty);
                            if (scan[0] >= 0) {
                                newFn = cand;
                                spanEnd = scan[0];
                                String params = paramsText(toks, ty, scan);
                                if (!params.isEmpty()
                                        || toks.get(ty).text.toLowerCase()
                                            .equals("decimal")) {
                                    shellType = toks.get(ty).text + params;
                                }
                            }
                        }
                    }
                } else {
                    int p = prev(toks, spanStart);
                    if (p >= 0 && toks.get(p).kind.equals("punct")
                            && toks.get(p).text.equals("(")) {
                        int pp = prev(toks, p);
                        int a = next(toks, spanEnd);
                        if (pp >= 0 && toks.get(pp).kind.equals("ident")
                                && toks.get(pp).text.toLowerCase().equals("cast")
                                && a >= 0 && toks.get(a).kind.equals("ident")
                                && toks.get(a).text.toLowerCase().equals("as")) {
                            int ty = next(toks, a);
                            if (ty >= 0 && toks.get(ty).kind.equals("ident")) {
                                String cand = CAST_ELISION.get(
                                    toks.get(ty).text.toLowerCase());
                                if (cand != null) {
                                    int[] scan = scanTypeParams(toks, ty);
                                    int close = scan[0] >= 0
                                        ? next(toks, scan[0]) : -1;
                                    if (close >= 0
                                            && toks.get(close).kind
                                                .equals("punct")
                                            && toks.get(close).text
                                                .equals(")")) {
                                        newFn = cand;
                                        String params =
                                            paramsText(toks, ty, scan);
                                        spanStart = pp;
                                        spanEnd = close;
                                        if (!params.isEmpty()
                                                || toks.get(ty).text
                                                    .toLowerCase()
                                                    .equals("decimal")) {
                                            shellType =
                                                toks.get(ty).text + params;
                                        }
                                    }
                                }
                            }
                        }
                    }
                }
                if (newFn != null) {
                    String callSrc =
                        newFn + "(" + String.join(", ", t.args) + ")";
                    if (shellType != null) {
                        callSrc = "cast(" + callSrc + " as " + shellType + ")";
                    }
                    Tok call = new Tok("call", callSrc);
                    call.fn = newFn;
                    call.args = t.args;
                    call.alias = t.alias;
                    call.literalPath = t.literalPath;
                    for (int d = spanEnd; d >= spanStart; d--) toks.remove(d);
                    toks.add(spanStart, call);
                    changed = true;
                    break;
                }
            }
        }

        // validation of function-form path args
        for (int i = 0; i < toks.size(); i++) {
            Tok t = toks.get(i);
            if (t.kind.equals("call") && t.fn != null && PATH_FNS.contains(t.fn)) {
                validatePathArgs(t.fn, t.args);
            } else if (t.kind.equals("ident")
                    && (PATH_FNS.contains(t.text.toLowerCase())
                        || UNARY_FNS.contains(t.text.toLowerCase()))) {
                int n = next(toks, i);
                if (n >= 0 && toks.get(n).kind.equals("punct")
                        && toks.get(n).text.equals("(")) {
                    int depth = 0, j = n;
                    while (j < toks.size()) {
                        Tok tj = toks.get(j);
                        if (tj.kind.equals("punct") && tj.text.equals("(")) {
                            depth += 1;
                        } else if (tj.kind.equals("punct") && tj.text.equals(")")) {
                            depth -= 1;
                            if (depth == 0) break;
                        }
                        j += 1;
                    }
                    if (j < toks.size()) {
                        String name = t.text.toLowerCase();
                        List<String> callArgs = splitCallArgs(toks, n, j);
                        if (UNARY_FNS.contains(name)) {
                            validateArity(name, callArgs);
                        } else {
                            validatePathArgs(name, callArgs);
                        }
                    }
                }
            }
        }

        // alias attachment for whole top-level select items
        Map<Integer, String> attach = new HashMap<>();
        Set<String> prevOkIdents = new HashSet<>(
            Arrays.asList("select", "distinct", "all"));
        Set<String> nextOkIdents = new HashSet<>(Arrays.asList(
            "from", "where", "group", "order", "limit", "having", "union",
            "except", "intersect", "window"));
        for (int i = 0; i < toks.size(); i++) {
            Tok t = toks.get(i);
            if (!t.kind.equals("call") || t.alias == null) continue;
            int p = prev(toks, i);
            int n = next(toks, i);
            int attachAt = i;
            while (p >= 0 && toks.get(p).kind.equals("punct")
                    && toks.get(p).text.equals("(")
                    && n >= 0 && toks.get(n).kind.equals("punct")
                    && toks.get(n).text.equals(")")) {
                attachAt = n;
                p = prev(toks, p);
                n = next(toks, n);
            }
            boolean prevOk = p < 0
                || (toks.get(p).kind.equals("ident")
                    && prevOkIdents.contains(toks.get(p).text.toLowerCase()))
                || (toks.get(p).kind.equals("punct")
                    && toks.get(p).text.equals(","));
            boolean nextOk = n < 0
                || (toks.get(n).kind.equals("ident")
                    && nextOkIdents.contains(toks.get(n).text.toLowerCase()))
                || (toks.get(n).kind.equals("punct")
                    && toks.get(n).text.equals(","));
            if (prevOk && nextOk) attach.put(attachAt, t.alias);
        }
        StringBuilder out = new StringBuilder();
        for (int i = 0; i < toks.size(); i++) {
            out.append(toks.get(i).text);
            String alias = attach.get(i);
            if (alias != null) {
                out.append(" AS `").append(alias.replace("`", "``")).append('`');
            }
        }
        return out.toString();
    }

    /**
     * Differential harness: reads NUL-separated queries from stdin,
     * writes NUL-separated rewrites to stdout; a query whose rewrite
     * raises writes {@code !ERR!<message>} instead. Lets the pytest
     * suite pin this port byte-for-byte against the Python
     * rewrite_sql over the whole test corpus without a JVM bridge.
     */
    public static void main(String[] argv) throws java.io.IOException {
        byte[] all = System.in.readAllBytes();
        String[] queries = new String(all, java.nio.charset.StandardCharsets.UTF_8)
            .split("\u0000", -1);
        StringBuilder out = new StringBuilder();
        for (int i = 0; i < queries.length; i++) {
            if (i > 0) out.append('\u0000');
            try {
                out.append(rewrite(queries[i]));
            } catch (RuntimeException e) {
                out.append("!ERR!").append(e.getMessage());
            }
        }
        System.out.write(out.toString()
            .getBytes(java.nio.charset.StandardCharsets.UTF_8));
        System.out.flush();
    }
}
