import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftIndex}
import graft.index.{IndexConfig, MultiVectorIndex, UpdateConfig}
import graft.util.Fs

/** Table identity harness for index-writing changes. Builds fixed,
  * seeded fixtures with the engine on the classpath and prints one line
  * per (fixture, table): rows and `Bench.forcedCountHash` over the
  * columns in name order; then the manifest minus `build_id` and a hash
  * of `codec.json`. Run it against two engines and `diff` the outputs:
  * a differing line is a content change to explain.
  *
  * {{{
  * CP="<engine classes>:<Spark's jars dir>/<all jars>"
  * java -cp "$CP" scala.tools.nsc.Main -d <out> -classpath "$CP" tools/Ident.scala
  * java <--add-opens list from build.sbt> --add-modules=jdk.incubator.vector \
  *   -cp "<out>:$CP" Ident <work dir> > ident.txt
  * }}}
  *
  * Fixtures: `serve` (400 docs x 32 tokens x dim 128 with JSON metadata,
  * K = 128, the benchmark's cold-create shape), `pooled` (pool factor 2),
  * `sampled` (32,000 docs, past the B1 doc-sampling threshold), then an
  * append with metadata (`startFromScratch = 0`) and a delete of ten ids
  * on the `serve` index. */
object Ident {

  private val Tables = Seq("tokens", "ivf", "doclens", "doc_codes", "codec", "raw_docs",
    "meta", "fts/postings", "fts/doclens")

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    /** `n` docs of `tokens(i)` seeded Gaussian L2-normalized tokens. */
    def docs(seed: Long, from: Int, n: Int, dim: Int, tokens: Int => Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val rows = (from until from + n).map { i =>
        (i.toLong - from, Array.fill(tokens(i)) {
          graft.core.MaxSim.l2Normalize(Array.fill(dim)(rnd.nextGaussian().toFloat))
        })
      }
      spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "embeddings")
    }
    def meta(from: Int, n: Int): DataFrame =
      (from until from + n).map(i => ((i - from).toLong,
        s"""{"title": "doc $i w${i % 17} w${i % 5}", "group": ${i % 3}, "year": ${2000 + i % 9}}"""))
        .toDF("order", "json")

    def show(fixture: String, path: String): Unit = {
      Tables.filter(t => Fs.exists(s"$path/$t")).foreach { t =>
        val df = Fs.readParquet(spark, s"$path/$t")
        val (rows, hash) = Bench.forcedCountHash(df.select(df.columns.sorted.map(col).toIndexedSeq: _*))
        println(s"$fixture $t rows=$rows hash=$hash")
      }
      val manifest = new MultiVectorIndex(spark, path).manifest - "build_id"
      println(s"$fixture manifest ${manifest.toSeq.sorted.mkString(" ")}")
      val codecJson = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$path/codec.json"))
      println(s"$fixture codec.json ${java.util.Arrays.hashCode(codecJson)}")
    }

    val serve = s"$work/serve"
    Fs.deleteRecursively(serve)
    val gi = GraftIndex.create(spark, serve, docs(1L, 0, 400, 128, _ => 32), Some(meta(0, 400)),
      IndexConfig(numPartitionsOverride = Some(128)))
    show("serve", serve)

    val pooled = s"$work/pooled"
    Fs.deleteRecursively(pooled)
    GraftIndex.create(spark, pooled, docs(2L, 0, 200, 32, i => 4 + i % 9), Some(meta(0, 200)),
      IndexConfig(numPartitionsOverride = Some(32), poolFactor = 2))
    show("pooled", pooled)

    val sampled = s"$work/sampled"
    Fs.deleteRecursively(sampled)
    GraftIndex.create(spark, sampled, docs(3L, 0, 32000, 8, i => 2 + i % 3), None,
      IndexConfig(numPartitionsOverride = Some(64)))
    show("sampled", sampled)

    gi.addDocuments(docs(4L, 400, 50, 128, _ => 32), Some(meta(400, 50)),
      UpdateConfig(startFromScratch = 0))
    show("append", serve)
    gi.deleteDocuments(ids = Some((0L until 100L by 10L).toSeq))
    show("delete", serve)

    Seq(serve, pooled, sampled).foreach(Fs.deleteRecursively)
    spark.stop()
  }
}
