package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the graft native
  * expressions in the session FunctionRegistry so they are callable from
  * SQL text as well as the Column API:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
  *   ...
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the whole-operator tier: the native as-of join's planner strategy
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // the optimizer-rule tier: fuse the composable cosine fold into the
    // native single-pass kernel (r14)
    ext.injectOptimizerRule(_ => FuseCosineFold)
  }
}

object GraftExtensions {

  private[graft] val functions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(args(0), args(1))
      }),
    (new FunctionIdentifier("md5_prefix64"),
      new ExpressionInfo(classOf[Md5Prefix64].getName, "md5_prefix64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "md5_prefix64 expects exactly 1 argument")
        Md5Prefix64(args.head)
      }),
    (new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomBuildAgg].getName, "bloom_build"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "bloom_build expects (hash, expectedItems, fpp)")
        require(args(1).foldable && args(2).foldable,
          "bloom_build sizing arguments must be literals")
        def num(v: Any): Double = v match {
          case n: Number => n.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"bloom_build sizing argument is not numeric: $other")
        }
        BloomBuildAgg(args.head,
          num(args(1).eval(null)).toLong, num(args(2).eval(null)))
      }),
    (new FunctionIdentifier("norm_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "norm_text"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "norm_text expects exactly 1 argument")
        NormalizeText(args.head)
      }),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContainLong].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bloom_might_contain expects (filterBytes, hash)")
        BloomMightContainLong(args.head, args(1))
      }))

  /** Idempotently register the graft functions into an EXISTING session.
    * The `spark.sql.extensions` path only applies at session BUILD time;
    * library code that receives an already-built (possibly vanilla)
    * session — the driver contract hands `SparkEntry.queries` a session it
    * does not construct — calls this before issuing SQL text that names
    * the functions. Registration is guarded by `functionExists` so
    * per-query calls are no-ops after the first: an unconditional
    * `registerFunction` would log a "replaced a previously registered
    * function" warning on every invocation (r8 ADVICE #3). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
    // optimizer rules cannot be injected into a built session through
    // SparkSessionExtensions; experimental.extraOptimizations is the
    // supported post-build seam (guarded for idempotence)
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(FuseCosineFold)) {
      spark.experimental.extraOptimizations = extra :+ FuseCosineFold
    }
  }
}
