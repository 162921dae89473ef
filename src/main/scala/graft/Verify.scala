package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Correctness-gate marker: queries whose DuckDB twin reads a dumped
    // artifact that is EXPENSIVE to produce (v_search_qps' distributed-
    // funnel replay) key the dump on this, so Bench's timings stay pure
    // serving throughput while Verify always materializes the twin.
    System.setProperty("graft.verify", "1")
    // optional 3rd arg: comma-separated query names (local iteration only —
    // the driver always runs the full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = Bench.cpus(4)
    val spark = Bench.session(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Failures must be loud AND persistent: a swallowed exception means the
    // query silently vanishes from the driver's correctness JSON (this is
    // how a 6-query regression shipped unnoticed in round 10). Record every
    // failure as a marker file + sidecar and exit non-zero.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name.error.txt"), msg + "\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
