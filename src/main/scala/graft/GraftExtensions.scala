package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{FingerprintExpr, FloatDotExpr, JaroWinklerExpr, MinHashSigExpr, Utf8CharCountExpr}
import graft.functions.HyperplaneBucketExpr
import graft.operators.Similarity

/** SQL surface for the engine's native Catalyst expressions.
  *
  * The reference exposes every transform to its users directly
  * (`/root/reference/forecastframe/__init__.py` re-exports the whole API);
  * the Spark-native equivalent of "a user can reach everything" is the
  * FunctionRegistry: after registration, `spark.sql("SELECT
  * utf8_char_count(text) ...")` works with no Scala imports, and the
  * functions show up in `SHOW FUNCTIONS` / `DESCRIBE FUNCTION`.
  *
  * One registration path: [[GraftExtensions]], at session build time.
  * `GraftSession.builder` wires it in, and external apps use
  * `--conf spark.sql.extensions=graft.GraftExtensions` (the standard
  * extension-injection mechanism, zero-arg constructor required). The same
  * extension injects the engine's planner rules, so a session has all of
  * the engine or none of it.
  *
  * Only expressions whose non-column parameters are scalars are exposed —
  * `k`/`n`/`bits` arrive as integer LITERALS in the SQL text and are bound
  * at resolution time (they parameterize generated code, so they must be
  * plan-time constants; a non-literal argument is rejected with a clear
  * error). `NearestCentroidsExpr` stays Scala-only: its centroid table is
  * data-dependent (built by IVF fit), not expressible as a SQL literal.
  */
object GraftFunctions {

  private def litInt(fn: String, args: Seq[Expression], pos: Int): Int =
    args(pos) match {
      case Literal(v: Int, _)                  => v
      case Literal(v: Short, _)                => v.toInt
      case Literal(v: Byte, _)                 => v.toInt
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal (plan-time " +
        s"constant), got ${other.sql}")
    }

  private def arity(fn: String, args: Seq[Expression], n: Int*): Unit =
    if (!n.contains(args.length)) throw new IllegalArgumentException(
      s"$fn expects ${n.mkString(" or ")} argument(s), got ${args.length}")

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** All SQL-exposed native functions. Usage strings surface in
    * `DESCRIBE FUNCTION`.
    */
  val all: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("utf8_char_count"),
      new ExpressionInfo(classOf[Utf8CharCountExpr].getName, "utf8_char_count",
        "utf8_char_count(str) - UTF-8 code-point count, equal to length(str) " +
        "for valid UTF-8 but vectorizable (counts non-continuation bytes)."),
      { args =>
        arity("utf8_char_count", args, 1)
        Utf8CharCountExpr(args.head)
      }),

    (FunctionIdentifier("bottomk_fingerprint"),
      new ExpressionInfo(classOf[FingerprintExpr].getName, "bottomk_fingerprint",
        "bottomk_fingerprint(str, k, n) - bottom-k of md5-hashed n-code-point " +
        "rolling windows; a compact document fingerprint for containment checks."),
      { args =>
        arity("bottomk_fingerprint", args, 3)
        FingerprintExpr(args.head,
          litInt("bottomk_fingerprint", args, 1),
          litInt("bottomk_fingerprint", args, 2))
      }),

    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig",
        "minhash_sig(shingles, k) - k-element MinHash signature of an " +
        "array<string> of shingles; element i = min over shingles of " +
        "md5-based seeded 60-bit hash."),
      { args =>
        arity("minhash_sig", args, 2)
        MinHashSigExpr(args.head, litInt("minhash_sig", args, 1))
      }),

    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatDotExpr].getName, "vec_dot",
        "vec_dot(a, b) - dot product of two array<float|double> vectors in " +
        "double precision, left-to-right; NULL on null/unequal-length input. " +
        "Bit-identical to aggregate(zip_with(a, b, (x, y) -> double(x) * " +
        "double(y)), 0.0D, (s, v) -> s + v) but codegen'd."),
      { args =>
        arity("vec_dot", args, 2)
        FloatDotExpr(args.head, args(1))
      }),

    (FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucketExpr].getName, "hyperplane_bucket",
        "hyperplane_bucket(vec, bits, dim[, table]) - sign-LSH bucket of an " +
        "array<float> vector against `bits` seeded Rademacher hyperplanes of " +
        "dimension `dim`; `table` (default 0) selects an independent " +
        "hyperplane table for multi-table LSH."),
      { args =>
        arity("hyperplane_bucket", args, 3, 4)
        val bits = litInt("hyperplane_bucket", args, 1)
        val dim = litInt("hyperplane_bucket", args, 2)
        val table = if (args.length == 4) litInt("hyperplane_bucket", args, 3) else 0
        HyperplaneBucketExpr(
          args.head,
          Similarity.rademacherSigns(table, bits, dim).map(_.toArray).toArray)
      }),

    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] on UTF-8 " +
        "bytes (== code points on ASCII); 0.0 if either side is empty; " +
        "Winkler prefix boost (<=4, 0.1) applied when jaro > 0.7. " +
        "Fuzz-verified equal to DuckDB's jaro_winkler_similarity."),
      { args =>
        arity("jaro_winkler", args, 2)
        JaroWinklerExpr(args.head, args(1))
      })
  )
}

/** `spark.sql.extensions`-compatible injector (zero-arg constructor). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // continuous-aggregate routing (plans.TierRoute) — inside the operator-
    // optimization batch, so pruning/pushdown keep running on the rewritten
    // tier subtree; a no-op until a Route is registered
    ext.injectOptimizerRule(_ => graft.plans.TierRouteRule())
    // a partial/final aggregate pair with no exchange between them runs as
    // one Complete-mode aggregate (the tier cascade's reduce stage)
    ext.injectQueryStagePrepRule(_ => graft.plans.LocalCompleteAggregate)
  }
}
