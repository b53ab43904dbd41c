package jsonsparkext;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.catalyst.FunctionIdentifier;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry;
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo;
import org.apache.spark.sql.catalyst.expressions.GetStructField;
import org.apache.spark.sql.catalyst.expressions.IsNull;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.Or;
import org.apache.spark.sql.catalyst.expressions.ScalaUDF;
import org.apache.spark.sql.classic.ExpressionUtils;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.types.ByteType;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.IntegerType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.ShortType;
import org.apache.spark.sql.types.StringType;
import org.apache.spark.sql.types.StructType;

import scala.Function1;
import scala.Function2;
import scala.Function3;
import scala.Function4;
import scala.Function5;
import scala.Function6;
import scala.Function7;
import scala.Function8;
import scala.Function9;
import scala.Function10;
import scala.Function11;
import scala.Function12;
import scala.Function13;
import scala.Function14;
import scala.Function15;
import scala.Function16;
import scala.Function17;
import scala.Function18;
import scala.Function19;
import scala.Function20;
import scala.Function21;
import scala.Function22;
import scala.Option;
import scala.collection.immutable.Seq;
import scala.jdk.javaapi.CollectionConverters;
import scala.runtime.AbstractFunction1;

/**
 * The JVM exact tier: the literal-path JSON functions evaluated by
 * {@link JsonFinder} inside Spark's executor, as {@code ScalaUDF}
 * expressions, instead of across the Python worker hop.
 *
 * <p>Serves {@code json_get} (the union struct), {@code json_get_str/int/
 * float/bool}, {@code json_get_json}, {@code json_get_array},
 * {@code json_as_text}, {@code json_contains}, {@code json_length},
 * {@code json_object_keys} and the fused {@code json_union_to_text} and
 * {@code json_is_null} over {@code json_get} when the JSON argument is a
 * string and every path element is a non-null string or integer literal,
 * and {@code json_union_to_text} over any union struct. The Python
 * package loads this class at run time
 * (datafusion_functions_json_spark/functions/jvm_tier.py) and keeps its
 * Arrow UDFs for every other call shape:
 * <ul>
 * <li>{@link #column} and {@link #unionToText(Column)} build the Python
 *     API's columns;</li>
 * <li>{@link #bindSql} wraps the SQL functions {@code register_all}
 *     registered, so a call whose arguments fit runs here and any other
 *     call goes to the Python UDF it wraps; SQL {@code json_is_null} over
 *     a union struct becomes a plain Catalyst null test.</li>
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

    /** The result type per function, as udfs.RETURN_TYPES declares it. */
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
        Map.entry("json_object_keys", STRINGS),
        Map.entry("json_to_text_fused", DataTypes.StringType),
        Map.entry("json_is_null_fused", DataTypes.BooleanType));

    /** Largest argument count a ScalaUDF takes. */
    private static final int MAX_ARITY = 22;

    /**
     * One function object per (name, function, path, arity), so repeated
     * call sites build equal expressions that Catalyst can share.
     */
    private static final Map<List<Object>, Object> FUNCTIONS =
        new ConcurrentHashMap<>();

    /** One function at one path, applied to a document per row. */
    static final class Getter implements Serializable {
        private static final long serialVersionUID = 1L;

        private final String fn;
        private final JsonFinder.Path path;

        Getter(String fn, JsonFinder.Path path) {
            this.fn = fn;
            this.path = path;
        }

        Object eval(Object doc) {
            // a non-string document misses, like core.find_scalar
            String s = doc instanceof String ? (String) doc : null;
            switch (fn) {
                case "json_get_str":
                    return JsonFinder.getStr(s, path);
                case "json_get_int":
                    return JsonFinder.getInt(s, path);
                case "json_get_float":
                    return JsonFinder.getFloat(s, path);
                case "json_get_bool":
                    return JsonFinder.getBool(s, path);
                case "json_get_json":
                    return JsonFinder.getJson(s, path);
                case "json_as_text":
                    return JsonFinder.asText(s, path);
                case "json_contains":
                    return JsonFinder.contains(s, path);
                case "json_length":
                    return JsonFinder.length(s, path);
                case "json_get":
                    return unionRow(JsonFinder.getUnion(s, path));
                case "json_get_array":
                    return JsonFinder.getArray(s, path);
                case "json_object_keys":
                    return JsonFinder.objectKeys(s, path);
                case "json_to_text_fused":
                    return JsonFinder.toTextFused(s, path);
                case "json_is_null_fused":
                    return JsonFinder.isNullFused(s, path);
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
        if (!(u instanceof Row)) {
            throw new IllegalArgumentException(
                "json_union_to_text expects a union struct (a json_get result)");
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

    /** {@code json_union_to_text(u)} for the Python API, as a Column. */
    public Column unionToText(Column u) {
        return ExpressionUtils.column(unionToTextUdf(
            seq(List.of(ExpressionUtils.expression(u)))));
    }

    private static Expression unionToTextUdf(Seq<Expression> children) {
        return new ScalaUDF(UNION_TO_TEXT, DataTypes.StringType, children,
            seq(List.<Option<ExpressionEncoder<?>>>of()), Option.empty(),
            Option.apply("json_union_to_text"), true, true);
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

    /** {@code fn(doc, *path)} for the Python API, as a Column. */
    public Column column(String fn, Column doc, String pathJson) {
        JsonFinder.Path path = new JsonFinder.Path(JsonFinder.parseElements(pathJson));
        return ExpressionUtils.column(
            udf(fn, fn, path, seq(List.of(ExpressionUtils.expression(doc)))));
    }

    /**
     * Wraps each registered SQL function {@code name} (bindings
     * {@code name=fn,...}) so that calls this tier can serve run here and
     * every other call reaches the builder it replaces.
     */
    public void bindSql(SparkSession session, String bindings) {
        FunctionRegistry registry = session.sessionState().functionRegistry();
        for (String binding : bindings.split(",")) {
            String[] nameFn = binding.split("=");
            FunctionIdentifier id = FunctionIdentifier.apply(nameFn[0]);
            Option<Function1<Seq<Expression>, Expression>> prev =
                registry.lookupFunctionBuilder(id);
            Option<ExpressionInfo> info = registry.lookupFunction(id);
            if (prev.isDefined() && info.isDefined()) {
                registry.registerFunction(id, info.get(),
                    new SqlBuilder(nameFn[0], nameFn[1], prev.get()));
            }
        }
    }

    /** The SQL function builder: this tier when the arguments fit. */
    private static final class SqlBuilder
            extends AbstractFunction1<Seq<Expression>, Expression> {
        private final String name;
        private final String fn;
        private final Function1<Seq<Expression>, Expression> fallback;

        SqlBuilder(String name, String fn,
                   Function1<Seq<Expression>, Expression> fallback) {
            this.name = name;
            this.fn = fn;
            this.fallback = fallback;
        }

        @Override
        public Expression apply(Seq<Expression> args) {
            if (fn.equals("json_union_to_text") || fn.equals("json_is_null")) {
                int typeId = typeIdOrdinal(args);
                if (typeId < 0) {
                    return fallback.apply(args);
                }
                return fn.equals("json_is_null") ? isNullArm(args.apply(0), typeId)
                                                 : unionToTextUdf(args);
            }
            JsonFinder.Path path = literalPath(args);
            return path == null ? fallback.apply(args)
                                : udf(name, fn, path, args);
        }

        /**
         * The ordinal of the {@code type_id} field when the one argument is
         * a union struct, else -1.
         */
        private static int typeIdOrdinal(Seq<Expression> args) {
            if (args.size() != 1 || !args.apply(0).resolved()
                    || !(args.apply(0).dataType() instanceof StructType)) {
                return -1;
            }
            StructType t = (StructType) args.apply(0).dataType();
            Option<Object> k = t.getFieldIndex("type_id");
            return k.isDefined() && t.fields()[(Integer) k.get()].dataType()
                instanceof ByteType ? (Integer) k.get() : -1;
        }

        /**
         * {@code u IS NULL OR u.type_id IS NULL OR u.type_id = 0}, the
         * null test union.json_is_null builds for the Python API.
         */
        private static Expression isNullArm(Expression u, int typeId) {
            Expression tid = new GetStructField(u, typeId, Option.apply("type_id"));
            return new Or(new Or(new IsNull(u), new IsNull(tid)),
                new EqualTo(tid, Literal.create((byte) 0, DataTypes.ByteType)));
        }

        /** The path when the document is a string and the rest literals. */
        private static JsonFinder.Path literalPath(Seq<Expression> args) {
            int n = args.size();
            if (n == 0 || n > MAX_ARITY) {
                return null;
            }
            Expression doc = args.apply(0);
            if (!doc.resolved() || !(doc.dataType() instanceof StringType)) {
                return null;
            }
            List<Object> elems = new ArrayList<>();
            for (int k = 1; k < n; k++) {
                Expression arg = args.apply(k);
                if (!arg.resolved() || !arg.foldable()) {
                    return null;
                }
                DataType t = arg.dataType();
                Object v;
                try {
                    v = arg.eval(null);
                } catch (RuntimeException e) {
                    return null;
                }
                if (v != null && t instanceof StringType) {
                    elems.add(v.toString());
                } else if (v != null && (t instanceof ByteType || t instanceof ShortType
                        || t instanceof IntegerType || t instanceof LongType)) {
                    elems.add(((Number) v).longValue());
                } else {
                    return null;
                }
            }
            return new JsonFinder.Path(elems);
        }
    }

    /**
     * {@code name(children)} computing {@code fn} at {@code path} from the
     * first child; the others are the path literals, kept as children so
     * the expression prints like the Python UDF it replaces.
     */
    private static Expression udf(String name, String fn, JsonFinder.Path path,
                                  Seq<Expression> children) {
        int arity = children.size();
        Object function = FUNCTIONS.computeIfAbsent(
            List.of(name, fn, path, arity),
            key -> function(new Getter(fn, path), arity));
        return new ScalaUDF(function, RESULT_TYPES.get(fn), children,
            seq(List.<Option<ExpressionEncoder<?>>>of()), Option.empty(),
            Option.apply(name), true, true);
    }

    private static <T> Seq<T> seq(List<T> items) {
        return CollectionConverters.asScala(items).toSeq();
    }

    /** A Scala function of {@code arity} arguments reading the first. */
    @SuppressWarnings("rawtypes")
    private static Object function(Getter g, int arity) {
        switch (arity) {
            case 1: return (Function1 & Serializable) (d) -> g.eval(d);
            case 2: return (Function2 & Serializable) (d, a1) -> g.eval(d);
            case 3: return (Function3 & Serializable) (d, a1, a2) -> g.eval(d);
            case 4: return (Function4 & Serializable) (d, a1, a2, a3) -> g.eval(d);
            case 5: return (Function5 & Serializable) (d, a1, a2, a3, a4) -> g.eval(d);
            case 6: return (Function6 & Serializable) (
                d, a1, a2, a3, a4, a5) -> g.eval(d);
            case 7: return (Function7 & Serializable) (
                d, a1, a2, a3, a4, a5, a6) -> g.eval(d);
            case 8: return (Function8 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7) -> g.eval(d);
            case 9: return (Function9 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8) -> g.eval(d);
            case 10: return (Function10 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9) -> g.eval(d);
            case 11: return (Function11 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10) -> g.eval(d);
            case 12: return (Function12 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11) -> g.eval(d);
            case 13: return (Function13 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12) -> g.eval(d);
            case 14: return (Function14 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13) ->
                g.eval(d);
            case 15: return (Function15 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14) ->
                g.eval(d);
            case 16: return (Function16 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15)
                -> g.eval(d);
            case 17: return (Function17 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16) -> g.eval(d);
            case 18: return (Function18 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16, a17) -> g.eval(d);
            case 19: return (Function19 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16, a17, a18) -> g.eval(d);
            case 20: return (Function20 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16, a17, a18, a19) -> g.eval(d);
            case 21: return (Function21 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16, a17, a18, a19, a20) -> g.eval(d);
            case 22: return (Function22 & Serializable) (
                d, a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11, a12, a13, a14, a15,
                a16, a17, a18, a19, a20, a21) -> g.eval(d);
            default: throw new IllegalArgumentException("arity " + arity);
        }
    }
}
