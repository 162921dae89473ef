package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

class SkewJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    // force the shuffle path: a broadcastable dim would bypass the salt.
    // Session-local, so the specs that share the context after this one
    // keep Spark's default join planning.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("salted join == plain join on a 90%-one-key corpus (incl. dupes and misses)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // 9000 rows on the hot key, 1000 spread over 50 others, some keys
    // with NO dim match; dim has duplicate rows per key (multiplicity)
    val fact = ((0 until 9000).map(i => (0L, i.toLong)) ++
      (0 until 1000).map(i => ((rnd.nextInt(50) + 1).toLong, 100000L + i)))
      .toDF("k", "payload")
    val dim = ((0L until 40L).map(k => (k, s"d$k")) ++
      Seq((0L, "d0_dup"), (7L, "d7_dup"))).toDF("k", "attr")
    val saltedRows = SkewJoin.salted(fact, dim, Seq("k"), salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val plainRows = fact.join(dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(saltedRows.sorted.toSeq === plainRows.sorted.toSeq)
    // dim-duplicate multiplicity preserved: the hot key matches twice
    assert(saltedRows.count(r => r._1 == 0L && r._2 == 17L) === 2)
  }

  test("salt spreads the hot key across reducers") {
    import spark.implicits._
    val fact = (0 until 5000).map(i => (0L, i.toLong)).toDF("k", "payload")
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(col("k"), col("payload")), lit(8)).cast("int"))
    val perSalt = salted.groupBy("_salt").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perSalt.size === 8, s"expected 8 salts, got ${perSalt.keySet}")
    // deterministic hash ≈ uniform: no salt holds more than 2x its share
    assert(perSalt.values.max <= 2 * 5000 / 8, s"salt skew: $perSalt")
  }

  test("hotKeys census ranks the heavy key first with ppm share") {
    import spark.implicits._
    val fact = ((0 until 9000).map(i => (0L, i.toLong)) ++
      (0 until 1000).map(i => ((i % 50 + 1).toLong, 100000L + i)))
      .toDF("k", "payload")
    val top = SkewJoin.hotKeys(fact, Seq("k"), topN = 3).collect()
    assert(top(0).getLong(0) === 0L)
    assert(top(0).getAs[Long]("n_rows") === 9000L)
    assert(top(0).getAs[Long]("share_ppm") === 900000L)
  }
}
