package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tokenizers
import graft.functions.ArrayMath

/** Native Catalyst expressions and codegen fast paths. */
class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("dot_f matches the builtin zip_with/aggregate chain bit-for-bit") {
    import spark.implicits._
    ArrayMath.register(spark)
    val df = Seq(
      (Array(1.5f, -2.0f, 0.25f), Array(4.0f, 0.5f, -8.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)),
      (Array(1e-8f, 1e8f, 3.3f), Array(1e8f, 1e-8f, -3.3f))
    ).toDF("a", "b")
    val out = df.select(
      expr("dot_f(a, b)").as("fused"),
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), " +
        "cast(0.0 AS double), (acc, v) -> acc + v)").as("chain")
    ).collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("dot_f handles nulls and mismatched lengths") {
    import spark.implicits._
    ArrayMath.register(spark)
    val df = Seq(
      (Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(1.0f, 1.0f))), // min length
      (None, Some(Array(1.0f)))
    ).toDF("a", "b")
    val out = df.select(expr("dot_f(a, b)")).collect()
    assert(out(0).getDouble(0) === 3.0)
    assert(out(1).isNullAt(0))
  }

  test("dot_f survives both codegen and interpreted evaluation") {
    import spark.implicits._
    ArrayMath.register(spark)
    val df = Seq((Array(2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      assert(df.select(expr("dot_f(a, b)")).collect()(0).getDouble(0) === 23.0)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(df.select(expr("dot_f(a, b)")).collect()(0).getDouble(0) === 23.0)
  }

  test("a repeated ArrayMath.register keeps the first registration") {
    ArrayMath.register(spark)
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("dot_f")
    val first = registry.lookupFunction(id)
    assert(first.isDefined)
    ArrayMath.register(spark)
    assert(registry.lookupFunction(id).exists(_ eq first.get),
      "a second register replaced dot_f's registration")
  }

  test("unicode61 builtin regexp fast path matches the JVM tokenizer") {
    import spark.implicits._
    val texts = Seq(
      "Hello, World! 42 times",
      "naïve café résumé",
      "snake_case and camelCase mix 3x",
      "    ",
      "中文 词语 mixed ascii"
    )
    val viaBuiltin = texts.toDF("text")
      .select(expr("regexp_extract_all(lower(`text`), '[\\\\p{L}\\\\p{Nd}]+', 0)"))
      .collect().map(_.getSeq[String](0).toList)
    val viaKernel = texts.map(t => Tokenizers.unicode61(t).toList)
    assert(viaBuiltin.toSeq === viaKernel)
  }
}
