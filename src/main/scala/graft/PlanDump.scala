package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/r19/<query>_<tag>.txt).
  * The judge can't run Spark; these files are how plan claims are
  * checked against the code.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <tag> <q1,q2,...>"
  * (SPARK_GRAFT_SF_DIR selects the data, default sf0.1; `all` dumps
  * every non-verifyOnly query.)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <q1,q2,...|all>")
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus(32)
    val names =
      if (args(2) == "all")
        SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.verifyOnly).sorted
      else args(2).split(",").toSeq
    val spark = Bench.session(cpus, cpus)
    Files.createDirectories(Paths.get(outDir))
    // evidence-only subplans that are not declared queries
    val subplans: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "a_assoc_cappeditems" -> ((s, dir) =>
        graft.operators.Assoc.cappedItems(
          Tables(s, dir, "lineitem")
            .select(org.apache.spark.sql.functions.col("l_orderkey").as("basket"),
              org.apache.spark.sql.functions.col("l_partkey").as("item")),
          "basket", "item", maxBasketSize = 8)))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        subplans.getOrElse(name, sys.error(s"unknown query: $name")))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
        println(s"PLAN_DUMP $name -> $outDir/${name}_$tag.txt (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          println(s"PLAN_DUMP $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
