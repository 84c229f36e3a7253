package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Sqrt}
import org.apache.spark.sql.types.DoubleType

/** SQL registration for the engine's codegen vector expressions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the Column API
  * (§2.11: FunctionRegistry route).
  *
  * Two entry points:
  *  - [[register]] mutates an existing session's registry (tests, REPLs);
  *  - [[GraftExtensions]] is a `spark.sql.extensions`-loadable injector
  *    (`.config("spark.sql.extensions", "graft.functions.GraftExtensions")`)
  *    — the supported hook for cluster deployments.
  */
object GraftFunctions {

  private[functions] def fns: Seq[(String, Seq[Expression] => Expression)] = vecFns ++
    PipelineSqlFunctions.fns // text/dedup/sampling pipeline kernels (§2.12)

  private def vecFns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (args => DotProductFloat(args(0), args(1))),
    "hamming_dist" -> (args => HammingDistPacked(args(0), args(1))),
    "pack_sign_bits" -> (args => PackSignBits(args(0))),
    "simhash64" -> (args => SimHash64(args(0))),
    "nfc_normalize" -> (args => NfcNormalize(args(0))),
    // vec_magnitude is a raw Catalyst tree (the Column->Expression bridge
    // leaves unresolved nodes behind when used inside a registry builder);
    // vec_cosine is the fused kernel VectorFunctions.vecCosine builds, so
    // SQL and Column callers share one expression: vec_cosine(v, q), or
    // vec_cosine(v, q, v_magnitude) with the row's stored magnitude
    "vec_magnitude" -> (args => Sqrt(DotProductFloat(args(0), args(0)))),
    "vec_cosine" -> {
      case Seq(v, q) => CosineFloat(v, q)
      case Seq(v, q, m) => CosineFloatStored(v, q, Cast(m, DoubleType))
      case args => throw new IllegalArgumentException(
        s"vec_cosine takes (v, q) or (v, q, v_magnitude), got ${args.size} arguments")
    })

  def register(spark: SparkSession): Unit = fns.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, name),
      builder)
  }
}

/** `spark.sql.extensions` injector (must be a class with a no-arg ctor) —
  * same function table as [[GraftFunctions.register]], one source of truth. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
