package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two float vectors,
  * accumulated in double, computed in ONE fused loop inside whole-stage
  * codegen.
  *
  * Why not `aggregate(zip_with(...))`? That plan builds an intermediate
  * array per row (the zip), then folds it — two higher-order functions,
  * an allocation, and lambda-call overhead per element. This expression
  * generates a single primitive loop over both `ArrayData`s with no
  * allocation, the form a columnar engine would emit. Preference order per
  * the design guide: compose built-ins first (the zip_with form in
  * Similarity is that), drop to a custom Expression where the hot loop
  * justifies it — ANN scoring is exactly such a loop (corpus × queries ×
  * dim multiply-adds).
  *
  * Semantics match Similarity's dotExpr exactly: index-order double
  * accumulation, dot / (sqrt(|a|²) · sqrt(|b|²)); NaN on zero vectors.
  */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs must be array<float>; ExpectsInputTypes is private[sql] in
  // Spark 4 so the contract is documented rather than analyzer-enforced
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.getFloat($i);
         |  double y = (double) $b.getFloat($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorCosine =
    copy(left = newLeft, right = newRight)
}

object VectorCosine {
  /** Expression builder shared by [[register]] and
    * [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => VectorCosine(exprs.head, exprs(1))

  /** SQL registration: usable as vec_cosine(a, b) in SQL text and in
    * functions.expr("vec_cosine(a, b)") Column expressions. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent: re-registering logs a "replaced a previously registered
    // function" WARN per call site, noise when several queries share one
    // session (the definition never changes)
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_cosine")))
      reg.createOrReplaceTempFunction("vec_cosine", builder, "built-in")
  }
}
