package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.pipeline.Dedup

/** The distinct-input contract of the exact Jaccard verify: `shingles`
  * emits each `(doc_id, sh)` once, and `jaccardVerify` over that table
  * is the set Jaccard of the docs' word n-grams, computed here by brute
  * force with the same tokenizer (lowercase, `[a-z0-9]+` runs). */
object DedupProperties extends Properties("dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // a small vocabulary so random docs share grams; case and punctuation
  // exercise the tokenizer
  private val word = Gen.oneOf("a", "b", "c", "Dd", "e1", "x", "y.", "-z")
  private val text = Gen.chooseNum(0, 12).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
  private val docs = Gen.chooseNum(2, 6).flatMap(Gen.listOfN(_, text))

  private def grams(t: String, n: Int): Set[String] =
    "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq.sliding(n)
      .filter(_.size == n).map(_.mkString(" ")).toSet

  property("shingles are distinct per (doc_id, sh) and jaccardVerify is the set Jaccard") =
    forAll(docs, Gen.chooseNum(1, 3)) { (texts, n) =>
      import spark.implicits._
      val rows = texts.zipWithIndex.map { case (t, i) => (10L * i + 3, t) }
      val sh = Dedup.shingles(rows.toDF("doc_id", "text"), "doc_id", "text", n)
      val sets = rows.map { case (id, t) => id -> grams(t, n) }.toMap
      val pairs = for {
        (a, _) <- rows; (b, _) <- rows if a < b
      } yield (a, b)
      val got = Dedup.jaccardVerify(pairs.toDF("a", "b"), sh)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val want = pairs.filter { case (a, b) => sets(a).nonEmpty && sets(b).nonEmpty }
        .map { case (a, b) =>
          val inter = (sets(a) & sets(b)).size.toLong
          (a, b) -> inter.toDouble / (sets(a).size + sets(b).size - inter)
        }.toMap
      val nSh = sh.count()
      Prop(nSh == sh.distinct().count()) :| "shingles distinct" &&
        Prop(nSh == sets.values.map(_.size.toLong).sum) :| "one row per distinct gram" &&
        Prop(got == want) :| s"jaccard got=$got want=$want"
    }
}
