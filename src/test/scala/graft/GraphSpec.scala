package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Reference implementation of the exact integer update rule. */
  private def refRank(
      edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (1000000000000L * 15L / 100L) / nodes.size
    var r = nodes.map(_ -> 1000000000000L / nodes.size).toMap
    for (_ <- 1 to iters) {
      val inflow = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        (r(u) * 85L / 100L) / outdeg(u)
      }.sum).toMap
      r = nodes.map(n => n -> (base + inflow.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("pageRank matches the integer reference on an asymmetric graph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    val got = Graph.pageRank(spark, edges.toDF("src", "dst"), iterations = 7)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === refRank(edges, 7))
    // c receives from three nodes, d from none: strict ordering
    assert(got("c") > got("a") && got("a") > got("d"))
  }

  test("pageRank: symmetric 2-cycle stays symmetric; mass never exceeds budget") {
    import spark.implicits._
    val got = Graph.pageRank(spark,
      Seq(("x", "y"), ("y", "x")).toDF("src", "dst"), iterations = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("x") === got("y"))
    assert(got.values.sum <= 1000000000000L)
  }

  test("pageRank: driver-local path is bit-identical to the distributed loop") {
    import spark.implicits._
    // randomized directed graph with sinks, sources and multi-edges
    val rnd = new scala.util.Random(42)
    val edges = (1 to 400).map(_ =>
      ("n" + rnd.nextInt(40), "n" + rnd.nextInt(40)))
    val df = edges.toDF("src", "dst")
    val local = Graph.pageRank(spark, df, iterations = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dist = Graph.pageRank(spark, df, iterations = 6, maxLocalBytes = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local === dist)
  }

  test("pageRank: the local gate bounds bytes — wide string ids take the distributed loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 200).map(_ => (rnd.nextInt(40), rnd.nextInt(40)))
    def isLocal(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // same 40-node graph, same 64 KB bound: ~260 B per narrow id node
    // fits, ~4.3 KB per 4,000-char id node does not
    val bound = 64L << 10
    val narrow = edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
    val pad = "x" * 4000
    val wide = edges.map { case (a, b) => (s"$pad$a", s"$pad$b") }.toDF("src", "dst")
    val narrowRun = Graph.pageRank(spark, narrow, iterations = 4, maxLocalBytes = bound)
    val wideRun = Graph.pageRank(spark, wide, iterations = 4, maxLocalBytes = bound)
    assert(isLocal(narrowRun), "narrow ids should iterate on the driver")
    assert(!isLocal(wideRun), "wide ids reached the driver-local loop")
    // the distributed answer equals the local loop's on the same graph
    val wideLocal = Graph.pageRank(spark, wide, iterations = 4, maxLocalBytes = 1L << 30)
    assert(isLocal(wideLocal))
    assert(ranks(wideRun) === ranks(wideLocal))
    assert(ranks(narrowRun).map { case (k, v) => k.stripPrefix("n") -> v } ===
      ranks(wideRun).map { case (k, v) => k.stripPrefix(pad) -> v })
  }

  /** Brute-force triangle reference: count id-ordered closed triples. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val tris = for {
      a <- nodes; b <- adj(a).toSeq if b > a
      c <- adj(b).toSeq if c > b && adj(a)(c)
    } yield (a, b, c)
    val cnt = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    nodes.map(n => n -> cnt.getOrElse(n, 0L)).toMap
  }

  test("triangleCounts matches brute force; handles dups, loops, both orientations") {
    import spark.implicits._
    // K4 on 1..4 (every node in 3 triangles) + a pendant (5) + an
    // isolated edge (6,7), with noise: self-loop, dup edge, reversed dup
    val edges: Seq[(Long, Long)] = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (2L, 2L), (3L, 1L), (1L, 2L))
    val got = Graph.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refTriangles(edges))
    assert(got(1L) === 3L && got(5L) === 0L && got(6L) === 0L)
  }

  test("triangleCounts on a skewed star-plus-rim graph (hub degree >> rim)") {
    import spark.implicits._
    // hub 0 connected to 1..40; rim path i—(i+1): each rim edge closes
    // exactly one triangle with the hub → hub in 39, endpoints 1, mid 2
    val star = (1L to 40L).map(i => (0L, i))
    val rim = (1L to 39L).map(i => (i, i + 1))
    val got = Graph.triangleCounts((star ++ rim).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refTriangles(star ++ rim))
    assert(got(0L) === 39L && got(1L) === 1L && got(20L) === 2L)
  }

  /** Reference peeler: iterate degree-filter to fixpoint. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = und.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != und.size
      und = next
    }
    und.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("kCore: K5 survives k=3, pendant chain and triangle peel away") {
    import spark.implicits._
    // K5 on 1..5, a chain 5-6-7, and a triangle 8-9-10
    val edges: Seq[(Long, Long)] =
      (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
        Seq((5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L), (8L, 10L))
    def run(k: Int) = Graph.kCore(edges.toDF("src", "dst"), k, peels = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(3) === refKCore(edges, 3))
    assert(run(3).keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(run(3)(1L) === 4L, "core degree excludes peeled neighbors")
    // at k=2 the triangle survives too; the chain still peels
    assert(run(2) === refKCore(edges, 2))
    assert(run(2).keySet === Set(1L, 2L, 3L, 4L, 5L, 8L, 9L, 10L))
    // k above max degree: empty core
    assert(run(5) === Map.empty)
    // fixpoint early-exit equivalence: this graph converges within a
    // few peels, so a huge peel budget must give the IDENTICAL core
    // (the r18 early exit stops on an unchanged edge count — sound
    // because the adjacency only shrinks)
    val generous = Graph.kCore(edges.toDF("src", "dst"), 3, peels = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(generous === run(3))
  }

  test("clusteringCoeff: K4 nodes are 10000 bp, pendant and low-degree are 0") {
    import spark.implicits._
    val edges: Seq[(Long, Long)] = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = Graph.clusteringCoeff(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // nodes 1..3: deg 3, 3 triangles → 2*3/(3*2) = 1.0 → 10000 bp
    assert(got(1L) === ((3L, 3L, 10000L)))
    // node 4: deg 4, 3 triangles → 6/(4*3) = 0.5 → 5000 bp
    assert(got(4L) === ((4L, 3L, 5000L)))
    // node 5: deg 1 → cc 0 by convention
    assert(got(5L) === ((1L, 0L, 0L)))
  }
}
