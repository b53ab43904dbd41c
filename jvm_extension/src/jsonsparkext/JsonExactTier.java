package jsonsparkext;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.List;
import java.util.Map;
import java.util.Objects;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.AnalysisException;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry$;
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction;
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder;
import org.apache.spark.sql.catalyst.expressions.Cast;
import org.apache.spark.sql.catalyst.expressions.Coalesce;
import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GetStructField;
import org.apache.spark.sql.catalyst.expressions.If;
import org.apache.spark.sql.catalyst.expressions.IsNull;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NonSQLExpression;
import org.apache.spark.sql.catalyst.expressions.Or;
import org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable;
import org.apache.spark.sql.catalyst.expressions.ScalaUDF;
import org.apache.spark.sql.catalyst.expressions.SortOrder;
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext;
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode;
import org.apache.spark.sql.catalyst.trees.TreePattern$;
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

import scala.Enumeration;
import scala.Function1;
import scala.Function2;
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
 * (src/common.rs:106-141), and returns a {@link NamedCall} that prints as
 * the call and runs as one ScalaUDF over the document, plus the key when
 * the path is a per-row column (src/common.rs:106-127). A union-struct
 * document is read through its {@code array} and {@code object} text
 * (src/common_union.rs:49-57). The Python package
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

    /** The result type per getter, as udfs.RETURN_TYPES declares it. */
    private static final Map<String, DataType> RESULT_TYPES = Map.ofEntries(
        Map.entry("json_get", UNION),
        Map.entry("json_get_str", DataTypes.StringType),
        Map.entry("json_get_int", DataTypes.LongType),
        Map.entry("json_get_float", DataTypes.DoubleType),
        Map.entry("json_get_bool", DataTypes.BooleanType),
        Map.entry("json_get_json", DataTypes.StringType),
        Map.entry("json_get_array", STRINGS),
        Map.entry("json_as_text", DataTypes.StringType),
        Map.entry("json_contains", DataTypes.BooleanType),
        Map.entry("json_length", DataTypes.LongType),
        Map.entry("json_object_keys", STRINGS));

    /**
     * The Python API's fused union consumers over {@code json_get}
     * (udfs.RETURN_TYPES), each the consumer it composes with
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
     * One function object per (function, path), so repeated call sites
     * build equal expressions that Catalyst can share.
     */
    private static final Map<List<Object>, Object> FUNCTIONS =
        new ConcurrentHashMap<>();

    /**
     * Registers the builders {@link #call} calls, in the JVM-wide registry
     * of internal functions; the package makes one instance per JVM.
     */
    public JsonExactTier() {
        SimpleFunctionRegistry internal = FunctionRegistry$.MODULE$.internal();
        List<String> fns = new ArrayList<>(RESULT_TYPES.keySet());
        fns.addAll(FUSED.keySet());
        fns.addAll(List.of("json_union_to_text", "json_is_null", "json_from_scalar"));
        for (String fn : fns) {
            internal.createOrReplaceTempFunction(
                INTERNAL + fn, new SqlBuilder(fn, fn, false), "scala_udf");
        }
    }

    /**
     * One getter at one path, applied to a JSON text per row. The path is
     * the literal {@code path}, or the second argument's key per row when
     * {@code path} is null.
     */
    static final class Getter implements Serializable {
        private static final long serialVersionUID = 1L;

        private final String fn;
        private final JsonFinder.Path path;

        Getter(String fn, JsonFinder.Path path) {
            this.fn = fn;
            this.path = path;
        }

        Object eval(Object doc) {
            return at((String) doc, path);
        }

        Object eval(Object doc, Object key) {
            return at((String) doc, JsonFinder.Path.ofKey(key));
        }

        private Object at(String s, JsonFinder.Path p) {
            switch (fn) {
                case "json_get_str":
                    return JsonFinder.getStr(s, p);
                case "json_get_int":
                    return JsonFinder.getInt(s, p);
                case "json_get_float":
                    return JsonFinder.getFloat(s, p);
                case "json_get_bool":
                    return JsonFinder.getBool(s, p);
                case "json_get_json":
                    return JsonFinder.getJson(s, p);
                case "json_as_text":
                    return JsonFinder.asText(s, p);
                case "json_contains":
                    return JsonFinder.contains(s, p);
                case "json_length":
                    return JsonFinder.length(s, p);
                case "json_get":
                    return unionRow(JsonFinder.getUnion(s, p));
                case "json_get_array":
                    return JsonFinder.getArray(s, p);
                case "json_object_keys":
                    return JsonFinder.objectKeys(s, p);
                default:
                    throw new IllegalArgumentException(fn);
            }
        }
    }

    /** The union struct row for an arm (type id, value); null arm NULL. */
    private static Row unionRow(Object[] arm) {
        if (arm == null) {
            return null;
        }
        int kind = (Integer) arm[0];
        Object[] members = new Object[UNION.size()];
        members[0] = (byte) kind;
        members[kind] = arm[1];
        return RowFactory.create(members);
    }

    /**
     * json_union_to_text over a union struct row
     * (kernels.kernel_json_union_to_text): the null arm, an unknown type id
     * and a NULL member are NULL.
     */
    static String unionRowText(Object u) {
        if (u == null) {
            return null;
        }
        Row r = (Row) u;
        Object tid = r.get(r.fieldIndex("type_id"));
        int kind = tid == null ? 0 : ((Number) tid).intValue();
        if (kind < 1 || kind >= UNION.size()) {
            return null;
        }
        Object v = r.get(r.fieldIndex(UNION.fields()[kind].name()));
        return v == null ? null : JsonFinder.unionText(kind, v);
    }

    private static final Object UNION_TO_TEXT =
        (Function1<Object, String> & Serializable) JsonExactTier::unionRowText;

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
                case "json_is_null": {
                    Expression u = single(args);
                    if (typeIdOrdinal(u.dataType()) < 0) {
                        throw argumentError(1, "a JSON union", u.dataType());
                    }
                    if (fn.equals("json_is_null")) {
                        return namedCall(args);
                    }
                    return new ScalaUDF(UNION_TO_TEXT, DataTypes.StringType, args,
                        seq(List.<Option<ExpressionEncoder<?>>>of()), Option.empty(),
                        Option.apply(name), true, true);
                }
                case "json_from_scalar":
                    single(args);
                    return namedCall(args);
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

        /**
         * The call of this function over {@code args} that prints as the
         * call and runs as {@link #replacement}, built now so that its
         * argument errors are raised at analysis.
         */
        private Expression namedCall(Seq<Expression> args) {
            NamedCall call = new NamedCall(name, args, this);
            call.replacement();
            return call;
        }

        /**
         * The Catalyst tree a {@link NamedCall} of this function runs as,
         * for arguments {@link #apply} checked: {@code json_is_null(u)},
         * {@code json_from_scalar(v)}, or a getter's ScalaUDF over the
         * document text, plus the key when the path is a column.
         */
        Expression replacement(Seq<Expression> args) {
            Expression v = args.apply(0);
            switch (fn) {
                case "json_is_null":
                    return isNullArm(v, typeIdOrdinal(v.dataType()));
                case "json_from_scalar":
                    return fromScalar(v);
                default:
                    boolean keyColumn = args.size() == 2 && !args.apply(1).foldable();
                    List<Expression> children = new ArrayList<>();
                    children.add(v.dataType() instanceof StructType
                        ? containerText(v, (StructType) v.dataType()) : v);
                    if (keyColumn) {
                        children.add(args.apply(1));
                    }
                    return udf(fn, keyColumn ? null : literalPath(args), seq(children));
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
                    || docType instanceof StructType && hasContainers((StructType) docType))) {
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
            return namedCall(args);
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
        private Expression fromScalar(Expression v) {
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
     * A call of {@code name} that prints as the call, like a
     * {@link ScalaUDF}, and runs as the Catalyst tree its builder makes of
     * the arguments, which the optimizer puts in its place: an unaliased
     * call names its column after the call, as the Python tier's UDFs do,
     * also inside another call. The tree is built on first use: the
     * copies Spark makes to print the call hold arguments that cannot be
     * evaluated.
     */
    static final class NamedCall extends Expression
            implements RuntimeReplaceable, NonSQLExpression {
        private static final long serialVersionUID = 1L;

        private static final Seq<Enumeration.Value> NODE_PATTERNS =
            seq(List.of(TreePattern$.MODULE$.RUNTIME_REPLACEABLE()));

        private final String name;
        private final Seq<Expression> children;
        private final SqlBuilder builder;
        private Expression replacement;

        public NamedCall(String name, Seq<Expression> children, SqlBuilder builder) {
            this.name = name;
            this.children = children;
            this.builder = builder;
        }

        @Override
        public Expression replacement() {
            if (replacement == null) {
                replacement = builder.replacement(children);
            }
            return replacement;
        }

        @Override
        public Seq<Expression> children() {
            return children;
        }

        @Override
        public Expression withNewChildrenInternal(IndexedSeq<Expression> newChildren) {
            return new NamedCall(name, newChildren, builder);
        }

        @Override
        public String prettyName() {
            return name;
        }

        @Override
        public String toString() {
            return name + children.mkString("(", ", ", ")");
        }

        // the traits' members that Expression also declares: Java picks
        // the class's, so each is passed on to its trait explicitly

        @Override
        public String sql() {
            return NonSQLExpression.super.sql();
        }

        @Override
        public boolean nullable() {
            return RuntimeReplaceable.super.nullable();
        }

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

        @Override
        public int productArity() {
            return 3;
        }

        @Override
        public Object productElement(int n) {
            switch (n) {
                case 0: return name;
                case 1: return children;
                case 2: return builder;
                default: throw new IndexOutOfBoundsException(String.valueOf(n));
            }
        }

        @Override
        public boolean canEqual(Object that) {
            return that instanceof NamedCall;
        }

        @Override
        public boolean equals(Object that) {
            return that instanceof NamedCall && name.equals(((NamedCall) that).name)
                && children.equals(((NamedCall) that).children);
        }

        @Override
        public int hashCode() {
            return Objects.hash(name, children);
        }
    }

    /**
     * The ordinal of the {@code type_id} field when {@code t} is a union
     * struct, else -1.
     */
    private static int typeIdOrdinal(DataType t) {
        if (!(t instanceof StructType)) {
            return -1;
        }
        Option<Object> k = ((StructType) t).getFieldIndex("type_id");
        return k.isDefined() && ((StructType) t).fields()[(Integer) k.get()].dataType()
            instanceof ByteType ? (Integer) k.get() : -1;
    }

    /**
     * Whether {@code t} has the string members {@code array} and
     * {@code object} that a union-struct document is read through.
     */
    private static boolean hasContainers(StructType t) {
        for (String m : List.of("array", "object")) {
            Option<Object> k = t.getFieldIndex(m);
            if (k.isEmpty()
                    || !(t.fields()[(Integer) k.get()].dataType() instanceof StringType)) {
                return false;
            }
        }
        return true;
    }

    /**
     * {@code coalesce(u.array, u.object)}: the JSON text a lookup reads in
     * the union-struct document {@code u} (udfs._doc_text); a scalar
     * member misses.
     */
    private static Expression containerText(Expression u, StructType t) {
        List<Expression> members = new ArrayList<>();
        for (String m : List.of("array", "object")) {
            members.add(new GetStructField(u, t.fieldIndex(m), Option.apply(m)));
        }
        return new Coalesce(seq(members));
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

    /**
     * {@code fn} over the JSON text in {@code children}'s first at
     * {@code path}, or at the second's key per row when {@code path} is
     * null.
     */
    private static Expression udf(String fn, JsonFinder.Path path,
                                  Seq<Expression> children) {
        Object function = FUNCTIONS.computeIfAbsent(Arrays.asList(fn, path), key -> {
            Getter g = new Getter(fn, path);
            return path != null ? (Function1<Object, Object> & Serializable) g::eval
                : (Function2<Object, Object, Object> & Serializable) g::eval;
        });
        return new ScalaUDF(function, RESULT_TYPES.get(fn), children,
            seq(List.<Option<ExpressionEncoder<?>>>of()), Option.empty(),
            Option.apply(fn), true, true);
    }

    private static <T> Seq<T> seq(List<T> items) {
        return CollectionConverters.asScala(items).toSeq();
    }
}
