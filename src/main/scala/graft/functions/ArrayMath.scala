package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for embedding math (SURVEY §4: prefer a
  * codegen'd `Expression` over a Scala UDF on hot paths).
  *
  * `dot_f(a, b)`: fused double-precision dot product of two
  * `array<float>` columns. Versus the builtin formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)` it
  * allocates no intermediate product array and no lambda frames — one
  * tight loop over the two ArrayData buffers, inside whole-stage
  * codegen. Accumulation order is i = 0..n-1 left-to-right, the same as
  * the builtin chain and DuckDB's list_sum over list_transform, so
  * declared-query hashes are unchanged.
  */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"
  // a null ELEMENT nulls the whole product (matching the builtin
  // aggregate(zip_with) chain, which DotProductRewrite replaces), so
  // the result can be null even with non-null array inputs
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF =
    copy(left = newLeft, right = newRight)
}

object ArrayMath {

  private val registrations: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_f", "fused double-precision dot product of two float arrays",
      { args: Seq[Expression] =>
        require(args.length == 2, "dot_f takes 2 arguments")
        DotF(args(0), args(1))
      })
  )

  /** Register the functions an existing session lacks (check, then a
    * synchronized re-check, as [[graft.meta.Where.ensureUdfs]] does):
    * a repeated call replaces no registration, so Spark logs no
    * "replaced a previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.synchronized {
        if (!registry.functionExists(id))
          registry.registerFunction(id,
            new ExpressionInfo("graft.functions.ArrayMath", "", name, usage, "", "", "", "", "", "", "built-in"),
            builder)
      }
    }
  }
}

/** `SparkSessionExtensions` hook: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` so the
  * functions exist in every session without driver code, and the
  * [[graft.plans.DotProductRewrite]] optimizer rule turns builtin
  * `aggregate(zip_with(...))` dot products into the fused kernel even
  * in hand-written SQL. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo("graft.functions.ArrayMath", "", "dot_f",
        "fused double-precision dot product of two float arrays", "", "", "", "", "", "", "built-in"),
      { args: Seq[Expression] => DotF(args(0), args(1)) }))
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
  }
}
