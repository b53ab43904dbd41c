package jsonsparkext;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.List;
import java.util.Map;
import java.util.Objects;
import java.util.function.BiFunction;

import org.apache.spark.sql.AnalysisException;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry$;
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction;
import org.apache.spark.sql.catalyst.expressions.Cast;
import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.GetStructField;
import org.apache.spark.sql.catalyst.expressions.If;
import org.apache.spark.sql.catalyst.expressions.IsNull;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NonSQLExpression;
import org.apache.spark.sql.catalyst.expressions.Or;
import org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable;
import org.apache.spark.sql.catalyst.expressions.SortOrder;
import org.apache.spark.sql.catalyst.expressions.codegen.Block;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeBlock;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext;
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode;
import org.apache.spark.sql.catalyst.expressions.codegen.JavaCode;
import org.apache.spark.sql.catalyst.trees.TreePattern$;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.classic.ExpressionUtils;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.BooleanType;
import org.apache.spark.sql.types.ByteType;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.DateType;
import org.apache.spark.sql.types.DecimalType;
import org.apache.spark.sql.types.DoubleType;
import org.apache.spark.sql.types.FloatType;
import org.apache.spark.sql.types.IntegerType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.NullType;
import org.apache.spark.sql.types.ShortType;
import org.apache.spark.sql.types.StringType;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;

import scala.Enumeration;
import scala.Option;
import scala.collection.immutable.IndexedSeq;
import scala.collection.immutable.Seq;
import scala.jdk.javaapi.CollectionConverters;
import scala.runtime.AbstractFunction1;

/**
 * The JVM exact tier: the JSON functions evaluated by {@link JsonFinder}
 * inside Spark's executor, as Catalyst expressions, instead of across the
 * Python worker hop.
 *
 * <p>Every call is built in one place, the function's {@link SqlBuilder},
 * like the reference's one singleton UDF per function
 * (src/common_macros.rs:17-49). The builder reads the argument types when
 * the query is analyzed, raises the reference's argument errors there
 * (src/common.rs:106-141), and returns a {@link Call}, which runs the
 * finder over the document, plus the key when the path is a per-row
 * column (src/common.rs:106-127), or a {@link Replaced} Catalyst tree. A
 * union-struct document is read through its {@code array} and
 * {@code object} text (src/common_union.rs:49-57). The Python package
 * (datafusion_functions_json_spark/functions/jvm_tier.py) reaches the
 * builders two ways:
 * <ul>
 * <li>{@link #registerAll} installs them under the SQL names;</li>
 * <li>{@link #call} builds the Python API's calls, as calls of the
 *     internal functions {@code jsonsparkext.<fn>} that this class's
 *     constructor registers. So the API and SQL spellings of a call
 *     resolve to the same plan, column name and errors.
 *     {@link #multi} builds json_extract_multi's struct of such
 *     calls.</li>
 * </ul>
 */
public final class JsonExactTier {

    /**
     * The union struct {@code json_get} returns (union.py): a type id and
     * one member per arm, at the position of its type id.
     */
    static final StructType UNION = new StructType()
        .add("type_id", DataTypes.ByteType)
        .add("bool", DataTypes.BooleanType)
        .add("int", DataTypes.LongType)
        .add("float", DataTypes.DoubleType)
        .add("str", DataTypes.StringType)
        .add("array", DataTypes.StringType)
        .add("object", DataTypes.StringType);

    private static final DataType STRINGS =
        DataTypes.createArrayType(DataTypes.StringType, true);

    /**
     * The functions that read a document at a path, named as the
     * functions: each one's result type, as signatures.RESULT_TYPES declares
     * it, and what it reads in a JSON text, as a Catalyst value.
     */
    private enum Fn {
        json_get(UNION, (s, p) -> unionStruct(JsonFinder.getUnion(s, p))),
        json_get_str(DataTypes.StringType, (s, p) -> utf8(JsonFinder.getStr(s, p))),
        json_get_int(DataTypes.LongType, JsonFinder::getInt),
        json_get_float(DataTypes.DoubleType, JsonFinder::getFloat),
        json_get_bool(DataTypes.BooleanType, JsonFinder::getBool),
        json_get_json(DataTypes.StringType, (s, p) -> utf8(JsonFinder.getJson(s, p))),
        json_get_array(STRINGS, (s, p) -> strings(JsonFinder.getArray(s, p))),
        json_as_text(DataTypes.StringType, (s, p) -> utf8(JsonFinder.asText(s, p))),
        json_contains(DataTypes.BooleanType, JsonFinder::contains),
        json_length(DataTypes.LongType, JsonFinder::length),
        json_object_keys(STRINGS, (s, p) -> strings(JsonFinder.objectKeys(s, p)));

        final DataType type;
        final BiFunction<String, JsonFinder.Path, Object> at;

        Fn(DataType type, BiFunction<String, JsonFinder.Path, Object> at) {
            this.type = type;
            this.at = at;
        }
    }

    /**
     * The Python API's fused union consumers over {@code json_get}
     * (signatures.RESULT_TYPES), each the consumer it composes with
     * {@code json_get}.
     */
    private static final Map<String, String> FUSED = Map.of(
        "json_to_text_fused", "json_union_to_text",
        "json_is_null_fused", "json_is_null");

    /**
     * The prefix of the internal function names {@link #call} calls;
     * internal names are reachable from the Column API only, never from
     * SQL text.
     */
    private static final String INTERNAL = "jsonsparkext.";

    /**
     * Registers the builders {@link #call} calls, in the JVM-wide registry
     * of internal functions; the package makes one instance per JVM.
     */
    public JsonExactTier() {
        SimpleFunctionRegistry internal = FunctionRegistry$.MODULE$.internal();
        List<String> fns = new ArrayList<>(FUSED.keySet());
        for (Fn f : Fn.values()) {
            fns.add(f.name());
        }
        fns.addAll(List.of("json_union_to_text", "json_is_null", "json_from_scalar"));
        for (String fn : fns) {
            internal.createOrReplaceTempFunction(
                INTERNAL + fn, new SqlBuilder(fn, fn, false), "scala_udf");
        }
    }

    /**
     * Python's repr of each double in {@code bits} (hexadecimal IEEE 754
     * bit patterns, comma separated), newline separated: the float text
     * json_union_to_text writes, for checking against Python.
     */
    public String formatFloats(String bits) {
        StringBuilder b = new StringBuilder();
        for (String h : bits.split(",")) {
            b.append(JsonFinder.floatText(
                Double.longBitsToDouble(Long.parseUnsignedLong(h, 16)))).append('\n');
        }
        return b.toString();
    }

    /**
     * {@code fn(doc, *path)} for the Python API, with the literal path as
     * a JSON array ({@code ["a", 0]}); or {@code fn(doc, key)} when
     * {@code key} is a column of keys ({@code pathJson} is then null).
     * {@code doc} and {@code key} are each a Column or a column name. The
     * call is one of the internal function {@code fn}, which its
     * {@link SqlBuilder} builds once the argument types are known, as it
     * builds the SQL name's call.
     */
    public Column call(String fn, Object doc, String pathJson, Object key) {
        return ExpressionUtils.column(call(fn, expression(doc),
            key == null ? JsonFinder.parseElements(pathJson) : null,
            key == null ? null : expression(key)));
    }

    /**
     * {@code struct(fn(doc, *path) AS name, ...)}, json_extract_multi's
     * struct, with its fields as one JSON array of
     * {@code [name, fn, *path]} arrays.
     */
    public Column multi(Object doc, String fieldsJson) {
        Expression d = expression(doc);
        Long n = JsonFinder.length(fieldsJson, new JsonFinder.Path(List.of()));
        Column[] fields = new Column[n.intValue()];
        for (int k = 0; k < fields.length; k++) {
            List<Object> f = JsonFinder.parseElements(JsonFinder.getJson(
                fieldsJson, new JsonFinder.Path(List.of((long) k))));
            fields[k] = ExpressionUtils.column(call((String) f.get(1), d,
                f.subList(2, f.size()), null)).as((String) f.get(0));
        }
        return functions.struct(fields);
    }

    /** A Column's expression, or a column name's as {@code col} resolves it. */
    private static Expression expression(Object c) {
        return ExpressionUtils.expression(
            c instanceof Column ? (Column) c : functions.col((String) c));
    }

    private static Expression call(String fn, Expression doc, List<Object> path,
                                   Expression key) {
        List<Expression> args = new ArrayList<>();
        args.add(doc);
        if (key != null) {
            args.add(key);
        } else {
            for (Object e : path) {
                args.add(literal(e));
            }
        }
        return new UnresolvedFunction(
            seq(List.of(INTERNAL + fn)), seq(args), false, Option.empty(), false,
            seq(List.<SortOrder>of()), true);
    }

    /**
     * A path element as SQL types its literal: a string, or an integer as
     * INT, BIGINT past the int range.
     */
    private static Literal literal(Object e) {
        if (e instanceof String) {
            return Literal.create(e, DataTypes.StringType);
        }
        long v = (Long) e;
        return v == (int) v ? Literal.create((int) v, DataTypes.IntegerType)
                            : Literal.create(v, DataTypes.LongType);
    }

    /**
     * Installs the SQL functions {@code bindings} ({@code name=fn,...}),
     * replacing any function of the same name in the session.
     */
    public void registerAll(SparkSession session, String bindings) {
        FunctionRegistry registry = session.sessionState().functionRegistry();
        for (String binding : bindings.split(",")) {
            String[] nameFn = binding.split("=");
            registry.createOrReplaceTempFunction(
                nameFn[0], new SqlBuilder(nameFn[0], nameFn[1], true), "scala_udf");
        }
    }

    /**
     * The function builder of one function, under its SQL name or its
     * internal name: the expression for the argument types the analyzer
     * resolved, or the reference's error for arguments it rejects
     * (reference src/common.rs:106-141).
     */
    private static final class SqlBuilder
            extends AbstractFunction1<Seq<Expression>, Expression> {
        private final String name;
        private final String fn;
        /**
         * Whether this is a SQL name's builder: SQL {@code json_contains}
         * requires a path, while the Python API checks its own calls and
         * json_extract_multi's {@code exists} field may read the root.
         */
        private final boolean sql;

        SqlBuilder(String name, String fn, boolean sql) {
            this.name = name;
            this.fn = fn;
            this.sql = sql;
        }

        @Override
        public Expression apply(Seq<Expression> args) {
            switch (fn) {
                case "json_union_to_text":
                case "json_is_null":
                    if (typeIdOrdinal(single(args).dataType()) < 0) {
                        throw argumentError(1, "a JSON union", args.apply(0).dataType());
                    }
                    return fn.equals("json_is_null") ? new Replaced(name, fn, args)
                                                     : new Call(name, fn, args, null);
                case "json_from_scalar":
                    single(args);
                    return new Replaced(name, fn, args);
                case "json_to_text_fused":
                case "json_is_null_fused": {
                    // the consumer over json_get, as SQL spells the composition
                    String outer = FUSED.get(fn);
                    Expression u = new SqlBuilder("json_get", "json_get", sql).apply(args);
                    return new SqlBuilder(outer, outer, sql).apply(seq(List.of(u)));
                }
                default:
                    return getter(args);
            }
        }

        private Expression single(Seq<Expression> args) {
            if (args.size() != 1) {
                throw error("The '" + fn + "' function requires 1 argument.");
            }
            return args.apply(0);
        }

        /**
         * A getter over a string or union-struct document, at a literal
         * path or at one per-row key.
         */
        private Expression getter(Seq<Expression> args) {
            int n = args.size();
            if (sql && fn.equals("json_contains") && n < 2) {
                // reference src/json_contains.rs:43-49
                throw error("The 'json_contains' function requires 2 or more arguments.");
            }
            if (n == 0) {
                throw error("The '" + fn + "' function requires one or more arguments.");
            }
            DataType docType = args.apply(0).dataType();
            if (!(docType instanceof StringType || docType instanceof NullType
                    || hasContainers(docType))) {
                throw argumentError(1, "a string", docType);
            }
            boolean literal = true;
            for (int k = 1; k < n; k++) {
                DataType t = args.apply(k).dataType();
                if (!(t instanceof StringType || isIntegral(t))) {
                    throw argumentError(k + 1, "string or int", t);
                }
                literal &= args.apply(k).foldable();
            }
            if (!literal && n > 2) {
                // reference src/common.rs:129-133
                throw error("More than 1 path element is not supported when "
                    + "querying JSON using an array.");
            }
            return new Call(name, fn, args, literal ? literalPath(args) : null);
        }

        /** The literal path of a getter call: its arguments after the first. */
        private static JsonFinder.Path literalPath(Seq<Expression> args) {
            List<Object> elems = new ArrayList<>();
            for (int k = 1; k < args.size(); k++) {
                Object v = args.apply(k).eval(null);
                elems.add(v == null || v instanceof Number ? v : v.toString());
            }
            return new JsonFinder.Path(elems);
        }

        /**
         * {@code json_from_scalar(v)}: the union arm picked by {@code v}'s
         * type, as udfs.from_scalar_udf picks it by the Arrow type, and a
         * whole-struct NULL for a NULL {@code v} (reference
         * src/json_from_scalar.rs:48-68).
         */
        static Expression fromScalar(Expression v) {
            DataType t = v.dataType();
            if (t instanceof NullType) {
                return Literal.create(null, UNION);
            }
            int arm;
            if (t instanceof BooleanType) {
                arm = 1;
            } else if (isIntegral(t)) {
                arm = 2;
            } else if (t instanceof FloatType || t instanceof DoubleType) {
                arm = 3;
            } else if (t instanceof StringType) {
                arm = 4;
            } else {
                throw error("Unsupported type for json_from_scalar: " + typeName(t) + ".");
            }
            List<Expression> fields = new ArrayList<>();
            for (int k = 0; k < UNION.size(); k++) {
                StructField f = UNION.fields()[k];
                fields.add(Literal.create(f.name(), DataTypes.StringType));
                if (k == 0) {
                    fields.add(Literal.create((byte) arm, DataTypes.ByteType));
                } else if (k != arm) {
                    fields.add(Literal.create(null, f.dataType()));
                } else if (t.equals(f.dataType())) {
                    fields.add(v);
                } else {
                    fields.add(new Cast(v, f.dataType(), Option.empty()));
                }
            }
            return new If(new IsNull(v), Literal.create(null, UNION),
                new CreateNamedStruct(seq(fields)));
        }

        private RuntimeException argumentError(int position, String expected,
                                               DataType got) {
            return error("Unexpected argument type to '" + fn + "' at position "
                + position + ", expected " + expected + ", got " + typeName(got) + ".");
        }

        /**
         * Throws an AnalysisException reading exactly {@code message} (the
         * legacy error condition Spark raises its own free-text analysis
         * errors with); declared to return so that callers can write
         * {@code throw error(...)}.
         */
        private static RuntimeException error(String message) {
            throw SqlBuilder.<RuntimeException>unchecked(new AnalysisException(
                "_LEGACY_ERROR_TEMP_1332",
                new scala.collection.immutable.Map.Map1<String, String>(
                    "errorMessage", message)));
        }

        /** {@code t} thrown past Java's checked-exception rule, as Scala throws it. */
        @SuppressWarnings("unchecked")
        private static <T extends Throwable> T unchecked(Throwable t) throws T {
            throw (T) t;
        }
    }

    /**
     * What a {@link Call} does per row, over the Catalyst values of the
     * argument it reads and of its key column (null without one).
     */
    private interface Body extends BiFunction<Object, Object, Object>, Serializable {
    }

    /**
     * A call of one of the tier's functions over {@code args}, which
     * prints as the call: an unaliased call names its column after the
     * call, as the Python tier's UDFs do, also inside another call.
     */
    private abstract static class Named extends Expression
            implements NonSQLExpression, Serializable {
        private static final long serialVersionUID = 1L;

        final String name;
        final String fn;
        final Seq<Expression> args;

        Named(String name, String fn, Seq<Expression> args) {
            this.name = name;
            this.fn = fn;
            this.args = args;
        }

        /** The constructor's arguments; name, fn and args determine the rest. */
        abstract Object[] product();

        @Override
        public Seq<Expression> children() {
            return args;
        }

        @Override
        public boolean nullable() {
            return true;
        }

        @Override
        public String prettyName() {
            return name;
        }

        @Override
        public String toString() {
            return name + args.mkString("(", ", ", ")");
        }

        @Override
        public String sql() {
            return NonSQLExpression.super.sql();
        }

        @Override
        public int productArity() {
            return product().length;
        }

        @Override
        public Object productElement(int n) {
            return product()[n];
        }

        @Override
        public boolean canEqual(Object that) {
            return that != null && that.getClass() == getClass();
        }

        @Override
        public boolean equals(Object that) {
            return canEqual(that) && name.equals(((Named) that).name)
                && fn.equals(((Named) that).fn) && args.equals(((Named) that).args);
        }

        @Override
        public int hashCode() {
            return Objects.hash(name, fn, args);
        }
    }

    /**
     * A call of a getter or of json_union_to_text. Built, it resolves once
     * what it does per row ({@link #body}): {@code fn} over its first
     * argument at the literal {@code path} its other arguments spell, or,
     * when {@code path} is null, over its first argument and the key
     * column after it, if any.
     */
    public static final class Call extends Named {
        private static final long serialVersionUID = 1L;

        private final JsonFinder.Path path;
        private final DataType type;
        private final Expression key;
        private final Body body;

        public Call(String name, String fn, Seq<Expression> args, JsonFinder.Path path) {
            super(name, fn, args);
            this.path = path;
            boolean union = fn.equals("json_union_to_text");
            type = union ? DataTypes.StringType : Fn.valueOf(fn).type;
            key = path == null && args.size() == 2 ? args.apply(1) : null;
            DataType t = args.apply(0).dataType();
            body = union ? unionText(t) : lookup(Fn.valueOf(fn), t, path);
        }

        @Override
        Object[] product() {
            return new Object[] {name, fn, args, path};
        }

        @Override
        public Expression withNewChildrenInternal(IndexedSeq<Expression> newChildren) {
            return new Call(name, fn, newChildren, path);
        }

        @Override
        public DataType dataType() {
            return type;
        }

        @Override
        public Object eval(InternalRow row) {
            return body.apply(args.apply(0).eval(row), key == null ? null : key.eval(row));
        }

        @Override
        public ExprCode doGenCode(CodegenContext ctx, ExprCode ev) {
            return invoke(ctx, ev, body, type,
                key == null ? List.of(args.apply(0)) : List.of(args.apply(0), key));
        }
    }

    /**
     * A call of json_is_null or json_from_scalar, run as the plain
     * Catalyst tree {@link #replacement}: the optimizer puts the tree in
     * its place.
     */
    public static final class Replaced extends Named implements RuntimeReplaceable {
        private static final long serialVersionUID = 1L;

        private static final Seq<Enumeration.Value> NODE_PATTERNS =
            seq(List.of(TreePattern$.MODULE$.RUNTIME_REPLACEABLE()));

        private final Expression replacement;

        public Replaced(String name, String fn, Seq<Expression> args) {
            super(name, fn, args);
            Expression v = args.apply(0);
            replacement = fn.equals("json_is_null")
                ? isNullArm(v, typeIdOrdinal(v.dataType())) : SqlBuilder.fromScalar(v);
        }

        @Override
        Object[] product() {
            return new Object[] {name, fn, args};
        }

        @Override
        public Expression withNewChildrenInternal(IndexedSeq<Expression> newChildren) {
            return new Replaced(name, fn, newChildren);
        }

        @Override
        public Expression replacement() {
            return replacement;
        }

        // the trait's members that Expression also declares: Java picks
        // the class's, so each is passed on to the trait explicitly

        @Override
        public DataType dataType() {
            return RuntimeReplaceable.super.dataType();
        }

        @Override
        public Expression canonicalized() {
            return RuntimeReplaceable.super.canonicalized();
        }

        @Override
        public Object eval(InternalRow input) {
            return RuntimeReplaceable.super.eval(input);
        }

        @Override
        public ExprCode doGenCode(CodegenContext ctx, ExprCode ev) {
            return RuntimeReplaceable.super.doGenCode(ctx, ev);
        }

        @Override
        public Seq<Enumeration.Value> nodePatterns() {
            return NODE_PATTERNS;
        }

        @Override
        public void org$apache$spark$sql$catalyst$expressions$RuntimeReplaceable$_setter_$nodePatterns_$eq(
                Seq<Enumeration.Value> patterns) {
            // nodePatterns is the constant above
        }
    }

    /**
     * {@code fn} over a document of type {@code t}: at {@code path}, or,
     * when {@code path} is null, at the one-element path of the key
     * column's value per row (a NULL key misses).
     */
    private static Body lookup(Fn fn, DataType t, JsonFinder.Path path) {
        int array = ordinal(t, "array", StringType.class);
        int object = ordinal(t, "object", StringType.class);
        if (path != null) {
            return (doc, none) -> fn.at.apply(text(doc, array, object), path);
        }
        return (doc, key) -> fn.at.apply(text(doc, array, object),
            JsonFinder.Path.ofKey(key instanceof UTF8String ? key.toString() : key));
    }

    /**
     * The JSON text in a document: a string, or for a union struct
     * ({@code array >= 0}) its {@code array} member, else its
     * {@code object} member (udfs._doc_text); null for a NULL document
     * and for a scalar arm.
     */
    private static String text(Object doc, int array, int object) {
        if (doc == null || array < 0) {
            return doc == null ? null : doc.toString();
        }
        InternalRow u = (InternalRow) doc;
        int m = u.isNullAt(array) ? object : array;
        return u.isNullAt(m) ? null : u.getUTF8String(m).toString();
    }

    /**
     * json_union_to_text over a union struct of type {@code t}
     * (kernels.kernel_json_union_to_text): the null arm, an unknown type
     * id and a NULL or absent member are NULL.
     */
    private static Body unionText(DataType t) {
        int tid = typeIdOrdinal(t);
        int[] members = new int[UNION.size()];
        for (int k = 1; k < members.length; k++) {
            members[k] = ordinal(t, UNION.fields()[k].name(), DataType.class);
        }
        return (v, none) -> {
            InternalRow u = (InternalRow) v;
            int kind = u == null || u.isNullAt(tid) ? 0 : u.getByte(tid);
            int m = kind > 0 && kind < members.length ? members[kind] : -1;
            if (m < 0 || u.isNullAt(m)) {
                return null;
            }
            Object value = u.get(m, ((StructType) t).fields()[m].dataType());
            return utf8(JsonFinder.unionText(kind,
                value instanceof UTF8String ? value.toString() : value));
        };
    }

    /**
     * The code of a call that applies {@code body} to the values of
     * {@code args} (one or two) and reads its result as {@code type}. The
     * generated class is compiled by Spark's class loader, which cannot
     * see this jar's classes, so the code names the body by its JDK
     * interface alone.
     */
    private static ExprCode invoke(CodegenContext ctx, ExprCode ev, Body body,
                                   DataType type, List<Expression> args) {
        List<Block> blocks = new ArrayList<>();
        String[] values = {"null", "null"};
        StringBuilder code = new StringBuilder();
        for (int k = 0; k < args.size(); k++) {
            ExprCode a = args.get(k).genCode(ctx);
            blocks.add(a.code());
            values[k] = ctx.freshName("arg");
            code.append(String.format("Object %s = %s ? null : (%s) %s;%n", values[k],
                a.isNull(), CodeGenerator.boxedType(args.get(k).dataType()), a.value()));
        }
        code.append(String.format("%1$s %2$s = (%1$s) %3$s.apply(%4$s, %5$s);%n"
                + "boolean %6$s = %2$s == null;%n%7$s %8$s = %9$s;%n"
                + "if (!%6$s) {%n  %8$s = %2$s;%n}%n",
            CodeGenerator.boxedType(type), ctx.freshName("result"),
            ctx.addReferenceObj("json", body, "java.util.function.BiFunction"),
            values[0], values[1], ev.isNull(), CodeGenerator.javaType(type), ev.value(),
            CodeGenerator.defaultValue(type, false)));
        blocks.add(new CodeBlock(seq(List.of(code.toString())), seq(List.<JavaCode>of())));
        return ev.copy(Block.blocksToBlock(seq(blocks)), ev.isNull(), ev.value());
    }

    /** The union struct for an arm (type id, value); the null arm NULL. */
    private static InternalRow unionStruct(Object[] arm) {
        if (arm == null) {
            return null;
        }
        int kind = (Integer) arm[0];
        Object[] members = new Object[UNION.size()];
        members[0] = (byte) kind;
        members[kind] = arm[1] instanceof String ? utf8((String) arm[1]) : arm[1];
        return new GenericInternalRow(members);
    }

    private static UTF8String utf8(String s) {
        return s == null ? null : UTF8String.fromString(s);
    }

    private static GenericArrayData strings(String[] items) {
        return items == null ? null
            : new GenericArrayData(Arrays.stream(items).map(UTF8String::fromString).toArray());
    }

    /**
     * The ordinal of the field {@code name} when {@code t} is a struct with
     * such a field of type {@code want}, else -1.
     */
    private static int ordinal(DataType t, String name, Class<? extends DataType> want) {
        if (!(t instanceof StructType)) {
            return -1;
        }
        Option<Object> k = ((StructType) t).getFieldIndex(name);
        return k.isDefined() && want.isInstance(((StructType) t).fields()[(Integer) k.get()]
            .dataType()) ? (Integer) k.get() : -1;
    }

    /**
     * The ordinal of the {@code type_id} field when {@code t} is a union
     * struct, else -1.
     */
    private static int typeIdOrdinal(DataType t) {
        return ordinal(t, "type_id", ByteType.class);
    }

    /**
     * Whether {@code t} is a struct with the string members {@code array}
     * and {@code object} that a union-struct document is read through.
     */
    private static boolean hasContainers(DataType t) {
        return ordinal(t, "array", StringType.class) >= 0
            && ordinal(t, "object", StringType.class) >= 0;
    }

    /**
     * {@code u IS NULL OR u.type_id IS NULL OR u.type_id = 0}, the null
     * test union.json_is_null builds for the Python API.
     */
    private static Expression isNullArm(Expression u, int typeId) {
        Expression tid = new GetStructField(u, typeId, Option.apply("type_id"));
        return new Or(new Or(new IsNull(u), new IsNull(tid)),
            new EqualTo(tid, Literal.create((byte) 0, DataTypes.ByteType)));
    }

    private static boolean isIntegral(DataType t) {
        return t instanceof ByteType || t instanceof ShortType
            || t instanceof IntegerType || t instanceof LongType;
    }

    /** A type as the reference's messages name it (DataFusion's names). */
    private static String typeName(DataType t) {
        if (t instanceof NullType) {
            return "Null";
        } else if (t instanceof BooleanType) {
            return "Boolean";
        } else if (t instanceof ByteType) {
            return "Int8";
        } else if (t instanceof ShortType) {
            return "Int16";
        } else if (t instanceof IntegerType) {
            return "Int32";
        } else if (t instanceof LongType) {
            return "Int64";
        } else if (t instanceof FloatType) {
            return "Float32";
        } else if (t instanceof DoubleType) {
            return "Float64";
        } else if (t instanceof StringType) {
            return "Utf8";
        } else if (t instanceof DateType) {
            return "Date32";
        } else if (t instanceof DecimalType) {
            DecimalType d = (DecimalType) t;
            return "Decimal128(" + d.precision() + ", " + d.scale() + ")";
        }
        String s = t.simpleString();
        return Character.toUpperCase(s.charAt(0)) + s.substring(1);
    }

    private static <T> Seq<T> seq(List<T> items) {
        return CollectionConverters.asScala(items).toSeq();
    }
}
