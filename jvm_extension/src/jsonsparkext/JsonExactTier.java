package jsonsparkext;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.catalyst.FunctionIdentifier;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry;
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo;
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
 * The JVM exact tier: the literal-path scalar getters evaluated by
 * {@link JsonFinder} inside Spark's executor, as {@code ScalaUDF}
 * expressions, instead of across the Python worker hop.
 *
 * <p>Serves {@code json_get_str/int/float/bool}, {@code json_get_json},
 * {@code json_as_text}, {@code json_contains} and {@code json_length} when
 * the JSON argument is a string and every path element is a non-null
 * string or integer literal. The Python package loads this class at run
 * time (datafusion_functions_json_spark/functions/jvm_tier.py) and keeps
 * its Arrow UDFs for every other call shape:
 * <ul>
 * <li>{@link #column} builds the Python API's columns;</li>
 * <li>{@link #bindSql} wraps the SQL functions {@code register_all}
 *     registered, so a call whose arguments fit runs here and any other
 *     call goes to the Python UDF it wraps.</li>
 * </ul>
 */
public final class JsonExactTier {

    private static final Map<String, DataType> RESULT_TYPES = Map.of(
        "json_get_str", DataTypes.StringType,
        "json_get_int", DataTypes.LongType,
        "json_get_float", DataTypes.DoubleType,
        "json_get_bool", DataTypes.BooleanType,
        "json_get_json", DataTypes.StringType,
        "json_as_text", DataTypes.StringType,
        "json_contains", DataTypes.BooleanType,
        "json_length", DataTypes.LongType);

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
                default:
                    throw new IllegalArgumentException(fn);
            }
        }
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
            JsonFinder.Path path = literalPath(args);
            return path == null ? fallback.apply(args)
                                : udf(name, fn, path, args);
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
