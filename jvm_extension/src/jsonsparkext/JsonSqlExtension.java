package jsonsparkext;

import java.lang.reflect.InvocationHandler;
import java.lang.reflect.InvocationTargetException;
import java.lang.reflect.Method;
import java.lang.reflect.Proxy;
import java.util.Arrays;
import java.util.HashSet;
import java.util.Set;

import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.parser.ParserInterface;
import org.apache.spark.sql.SparkSession;

import scala.Function2;
import scala.runtime.AbstractFunction1;
import scala.runtime.AbstractFunction2;
import scala.runtime.BoxedUnit;

/**
 * Spark session extension injecting a SQL parser that understands the
 * PostgreSQL JSON operators {@code ->}, {@code ->>}, {@code ?} in
 * un-preprocessed {@code spark.sql(...)} — closing the one reference
 * surface (datafusion-functions-json src/rewrite.rs:112-198, wired via
 * an ExprPlanner) that pure PySpark cannot reach because it exposes no
 * parser hooks. Usage:
 *
 * <pre>
 *   spark = (SparkSession.builder
 *            .config("spark.jars", ".../json-spark-ext.jar")
 *            .config("spark.sql.extensions",
 *                    "jsonsparkext.JsonSqlExtension")
 *            .getOrCreate())
 *   jsonf.register_all(spark)      # the functions themselves
 *   spark.sql("select props->'k' from t")   # no jsonf.sql needed
 * </pre>
 *
 * Mechanism: the injected parser is a {@link Proxy} delegating every
 * ParserInterface method to the session's default parser, rewriting the
 * SQL text first (via {@link JsonOperatorRewriter}, the pinned JVM twin
 * of the Python pre-processor) for the plan/query/expression entry
 * points. Because rewriting happens at PARSE time, the reference's
 * plan-time path-argument errors (NULL or float path literal,
 * reference tests/main.rs:291-298) surface at analysis time here too —
 * earlier than the pure-Python route's execution-time parity errors.
 * jsonf.sql(...) remains the no-JVM fallback; both routes share one
 * behavior contract pinned by the differential test.
 */
public class JsonSqlExtension
        extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {

    @Override
    public BoxedUnit apply(SparkSessionExtensions extensions) {
        Function2<SparkSession, ParserInterface, ParserInterface> builder =
            new AbstractFunction2<SparkSession, ParserInterface, ParserInterface>() {
                @Override
                public ParserInterface apply(SparkSession session,
                                             ParserInterface delegate) {
                    return wrap(delegate);
                }
            };
        extensions.injectParser(builder);
        return BoxedUnit.UNIT;
    }

    private static final Set<String> REWRITE_METHODS = new HashSet<>(
        Arrays.asList("parsePlan", "parseQuery", "parsePlanWithParameters",
                      "parseExpression"));

    static ParserInterface wrap(ParserInterface delegate) {
        InvocationHandler handler = new InvocationHandler() {
            @Override
            public Object invoke(Object proxy, Method method, Object[] args)
                    throws Throwable {
                if (args != null && args.length >= 1
                        && args[0] instanceof String
                        && REWRITE_METHODS.contains(method.getName())) {
                    args = args.clone();
                    args[0] = JsonOperatorRewriter.rewrite((String) args[0]);
                }
                try {
                    return method.invoke(delegate, args);
                } catch (InvocationTargetException e) {
                    throw e.getCause();
                }
            }
        };
        return (ParserInterface) Proxy.newProxyInstance(
            delegate.getClass().getClassLoader(),
            new Class<?>[] {ParserInterface.class},
            handler);
    }
}
