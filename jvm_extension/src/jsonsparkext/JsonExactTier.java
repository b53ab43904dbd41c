package jsonsparkext;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.AnalysisException;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry$;
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry;
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction;
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder;
import org.apache.spark.sql.catalyst.expressions.Cast;
import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GetStructField;
import org.apache.spark.sql.catalyst.expressions.If;
import org.apache.spark.sql.catalyst.expressions.IsNull;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.Or;
import org.apache.spark.sql.catalyst.expressions.ScalaUDF;
import org.apache.spark.sql.catalyst.expressions.SortOrder;
import org.apache.spark.sql.classic.ExpressionUtils;
import org.apache.spark.sql.classic.SparkSession;
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
 * The JVM exact tier: the JSON functions evaluated by {@link JsonFinder}
 * inside Spark's executor, as Catalyst expressions, instead of across the
 * Python worker hop.
 *
 * <p>Serves every call shape of {@code json_get} (the union struct),
 * {@code json_get_str/int/float/bool}, {@code json_get_json},
 * {@code json_get_array}, {@code json_as_text}, {@code json_contains},
 * {@code json_length} and {@code json_object_keys}: a JSON string or a
 * union-struct document (read through its {@code array} and
 * {@code object} members, reference src/common_union.rs:49-57), at a
 * literal path of any length or at a one-element per-row path column
 * (reference src/common.rs:106-127). It also serves the fused
 * {@code json_union_to_text} and {@code json_is_null} over
 * {@code json_get}, both union consumers over any union struct, and
 * {@code json_from_scalar}. The Python package loads this class at run
 * time (datafusion_functions_json_spark/functions/jvm_tier.py):
 * <ul>
 * <li>{@link #column} and {@link #unionToText(Column)} build the Python
 *     API's literal-path and union columns, and {@link #columnPath} its
 *     column-path calls;</li>
 * <li>{@link #registerAll} installs the SQL names, one
 *     {@link SqlBuilder} each, which reads the argument types when the
 *     query is analyzed and raises the reference's argument errors
 *     there.</li>
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
     * The prefix of the internal function names {@link #columnPath} calls;
     * internal names are reachable from the Column API only, never from
     * SQL text.
     */
    private static final String INTERNAL = "jsonsparkext.";

    /**
     * One function object per (name, function, path, document members,
     * arity), so repeated call sites build equal expressions that Catalyst
     * can share.
     */
    private static final Map<List<Object>, Object> FUNCTIONS =
        new ConcurrentHashMap<>();

    /**
     * Registers the builders {@link #columnPath} calls, in the JVM-wide
     * registry of internal functions; the package makes one instance per
     * JVM.
     */
    public JsonExactTier() {
        SimpleFunctionRegistry internal = FunctionRegistry$.MODULE$.internal();
        for (String fn : RESULT_TYPES.keySet()) {
            if (!fn.endsWith("_fused")) {
                internal.createOrReplaceTempFunction(
                    INTERNAL + fn, new SqlBuilder(fn, fn), "scala_udf");
            }
        }
    }

    /**
     * One function at one path, applied to a document per row. The path
     * is the literal {@code path}, or the second argument's key per row
     * when {@code path} is null. A union-struct document is read through
     * its container members at {@code arrayOrdinal} and
     * {@code objectOrdinal}.
     */
    static final class Getter implements Serializable {
        private static final long serialVersionUID = 1L;

        private final String fn;
        private final JsonFinder.Path path;
        private final int arrayOrdinal;
        private final int objectOrdinal;

        Getter(String fn, JsonFinder.Path path, List<Integer> members) {
            this.fn = fn;
            this.path = path;
            this.arrayOrdinal = members == null ? -1 : members.get(0);
            this.objectOrdinal = members == null ? -1 : members.get(1);
        }

        Object eval(Object doc) {
            return at(text(doc), path);
        }

        Object eval(Object doc, Object key) {
            return at(text(doc), path != null ? path : JsonFinder.Path.ofKey(key));
        }

        /**
         * The JSON text to read: the document, or a union struct's array or
         * object member (udfs._doc_text); scalar members miss. A non-string
         * document misses, like core.find_scalar.
         */
        private String text(Object doc) {
            if (doc instanceof Row) {
                Row u = (Row) doc;
                doc = u.isNullAt(arrayOrdinal) ? u.get(objectOrdinal)
                                               : u.get(arrayOrdinal);
            }
            return doc instanceof String ? (String) doc : null;
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
                case "json_to_text_fused":
                    return JsonFinder.toTextFused(s, p);
                case "json_is_null_fused":
                    return JsonFinder.isNullFused(s, p);
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
        return ExpressionUtils.column(udf(fn, fn, path, null,
            seq(List.of(ExpressionUtils.expression(doc)))));
    }

    /**
     * {@code fn(doc, key)} for the Python API, with {@code key} a column:
     * a call of the internal function that {@link SqlBuilder} builds once
     * the argument types are known, so the key's type is checked when the
     * query is analyzed, as in SQL.
     */
    public Column columnPath(String fn, Column doc, Column key) {
        return ExpressionUtils.column(new UnresolvedFunction(
            seq(List.of(INTERNAL + fn)),
            seq(List.of(ExpressionUtils.expression(doc),
                        ExpressionUtils.expression(key))),
            false, Option.empty(), false, seq(List.<SortOrder>of()), true));
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
                nameFn[0], new SqlBuilder(nameFn[0], nameFn[1]), "scala_udf");
        }
    }

    /**
     * The function builder of one SQL name: the expression for the
     * argument types the analyzer resolved, or the reference's error for
     * arguments it rejects (reference src/common.rs:106-141).
     */
    private static final class SqlBuilder
            extends AbstractFunction1<Seq<Expression>, Expression> {
        private final String name;
        private final String fn;

        SqlBuilder(String name, String fn) {
            this.name = name;
            this.fn = fn;
        }

        @Override
        public Expression apply(Seq<Expression> args) {
            switch (fn) {
                case "json_union_to_text":
                case "json_is_null": {
                    Expression u = single(args);
                    int typeId = typeIdOrdinal(u.dataType());
                    if (typeId < 0) {
                        throw argumentError(1, "a JSON union", u.dataType());
                    }
                    return fn.equals("json_is_null") ? isNullArm(u, typeId)
                                                     : unionToTextUdf(args);
                }
                case "json_from_scalar":
                    return fromScalar(single(args));
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
            if (fn.equals("json_contains") && n < 2) {
                // reference src/json_contains.rs:43-49
                throw error("The 'json_contains' function requires 2 or more arguments.");
            }
            if (n == 0) {
                throw error("The '" + fn + "' function requires one or more arguments.");
            }
            Expression doc = args.apply(0);
            List<Integer> members = null;
            DataType docType = doc.dataType();
            if (docType instanceof StructType) {
                members = containerOrdinals((StructType) docType);
            }
            if (members == null && !(docType instanceof StringType)
                    && !(docType instanceof NullType)) {
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
            if (!literal) {
                if (n > 2) {
                    // reference src/common.rs:129-133
                    throw error("More than 1 path element is not supported when "
                        + "querying JSON using an array.");
                }
                return udf(name, fn, null, members, args);
            }
            List<Object> elems = new ArrayList<>();
            for (int k = 1; k < n; k++) {
                Object v = args.apply(k).eval(null);
                elems.add(v == null || v instanceof Number ? v : v.toString());
            }
            JsonFinder.Path path = new JsonFinder.Path(elems);
            if (n <= MAX_ARITY) {
                return udf(name, fn, path, members, args);
            }
            // past ScalaUDF's arity the path literals are left out of the
            // children
            return udf(name, fn, path, members, seq(List.of(doc)));
        }

        /**
         * {@code json_from_scalar(v)} as the tree api.json_from_scalar(col,
         * dtype) builds: the union arm picked by {@code v}'s type, a
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
     * The ordinals of a union struct's string members {@code array} and
     * {@code object}, or null when {@code t} has no such members.
     */
    private static List<Integer> containerOrdinals(StructType t) {
        Option<Object> a = t.getFieldIndex("array");
        Option<Object> o = t.getFieldIndex("object");
        if (a.isEmpty() || o.isEmpty()
                || !(t.fields()[(Integer) a.get()].dataType() instanceof StringType)
                || !(t.fields()[(Integer) o.get()].dataType() instanceof StringType)) {
            return null;
        }
        return List.of((Integer) a.get(), (Integer) o.get());
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
     * {@code name(children)} computing {@code fn} from the first child at
     * {@code path}, or at the second child's key per row when {@code path}
     * is null; literal path elements stay children so the expression
     * prints like the call it is.
     */
    private static Expression udf(String name, String fn, JsonFinder.Path path,
                                  List<Integer> members, Seq<Expression> children) {
        int arity = children.size();
        Object function = FUNCTIONS.computeIfAbsent(
            Arrays.asList(name, fn, path, members, arity),
            key -> function(new Getter(fn, path, members), arity));
        return new ScalaUDF(function, RESULT_TYPES.get(fn), children,
            seq(List.<Option<ExpressionEncoder<?>>>of()), Option.empty(),
            Option.apply(name), true, true);
    }

    private static <T> Seq<T> seq(List<T> items) {
        return CollectionConverters.asScala(items).toSeq();
    }

    /**
     * A Scala function of {@code arity} arguments reading the first, and
     * the second too when there are two (a per-row key).
     */
    @SuppressWarnings("rawtypes")
    private static Object function(Getter g, int arity) {
        switch (arity) {
            case 1: return (Function1 & Serializable) (d) -> g.eval(d);
            case 2: return (Function2 & Serializable) (d, a1) -> g.eval(d, a1);
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
