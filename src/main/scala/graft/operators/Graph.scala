package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Plan

/** Graph analytics over edge tables (the near-dup pair graph, user
  * transition graphs, …) in pure DataFrame algebra — each iteration is
  * one equi-join + one aggregation, the classic distributed PageRank
  * shape (Page et al. 1999; the Pregel/GraphX formulation, public).
  *
  * Determinism contract: ranks live in INTEGER micro-units of a 10^12
  * total-mass budget and every update is integer arithmetic
  * (`damp = r·85 div 100`, `share = damp div outdeg`,
  * `r' = base + Σ shares`) — no floating-point accumulation anywhere,
  * so an independent SQL engine replays every iteration bit-for-bit
  * (integer division drops sub-micro mass and dangling-node mass by
  * design; both engines drop identically).
  *
  * Scale shape: the edge table shuffles once per iteration on `dst`
  * with map-side partial sums; ranks are node-sized. At a real 100 TB
  * graph you would persist+checkpoint the rank table every few
  * iterations to cut the lineage (documented, not needed at gate
  * scale).
  */
object Graph {

  /** Co-occurrence edges `(src, dst)` with `src < dst` from an
    * item-in-group table: every unordered pair of distinct items
    * sharing a group, once per group. Replaces the groupwise
    * SELF-JOIN (`lp.join(lp, grp).filter(src < dst)`) with one
    * exchange on the group key + per-group collect_set and a
    * zip-of-slices pair explode — the same restructure that won 2.6×
    * in `Dedup.candidatePairs` (the bands relation is exchanged once
    * and never hash-probed against itself); here the interleaved A/B
    * (OPTIMIZATION_r19 `triedge`/`kcoreedge`, hash-identical end-to-end) wins
    * every rep at sf0.1. Groups are basket-sized (co-purchase orders),
    * so the per-group quadratic is bounded exactly as in the join
    * form; the lambda body is cheap per-CHUNK slicing (the measured
    * non-trap regime). */
  def coOccurrenceEdges(
      items: DataFrame, grpCol: String, itemCol: String): DataFrame =
    items
      .groupBy(col(grpCol).as("_g"))
      .agg(sort_array(collect_set(col(itemCol))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ps) - 2), " +
          "i -> struct(ps[i] AS src, slice(ps, i + 2, size(ps)) AS rest))"))
        .as("e"))
      .select(col("e.src").as("src"), explode(col("e.rest")).as("dst"))

  /** Estimated driver bytes per node of the driver-local loop, beside
    * the id itself: the node array slot, the outdeg/rank/inflow map
    * entries with their boxed longs, and the per-iteration share row. */
  val LocalBytesPerNode = 200L

  /** Driver bytes of one node id held boxed: a string id is its average
    * UTF-8 length plus the String object and its byte array headers;
    * any other type its Catalyst default size plus an object header. */
  private def idBytes(
      t: org.apache.spark.sql.types.DataType, avgStringBytes: Double): Long =
    t match {
      case org.apache.spark.sql.types.StringType => math.ceil(avgStringBytes).toLong + 56L
      case other => other.defaultSize.toLong + 16L
    }

  /** `iterations` rounds of damped PageRank over directed
    * `edges(src, dst)` (pass both directions for an undirected graph).
    * Nodes = distinct edge endpoints. Output `(node, rank_micro)`.
    * Graphs whose estimated driver footprint — nodes × ([[idBytes]] +
    * [[LocalBytesPerNode]]) — fits `maxLocalBytes` iterate on the
    * driver; larger ones, wide ids included, take the distributed
    * loop. */
  def pageRank(
      spark: SparkSession, edges: DataFrame,
      iterations: Int = 10, maxLocalBytes: Long = 256L << 20): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations in [1,50]")
    // localCheckpoint the iteration-invariant relations: e feeds every
    // iteration's contribution join and nodes/outdeg appear 2×/1× per
    // round — without truncation each of the ~3·iterations consumers
    // re-derives them from the source scan (checkpoint blocks are
    // ContextCleaner-reclaimed when the handles go out of scope, unlike
    // a cacheManager persist)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val nodeType = nodes.schema.fields(0).dataType
    // string ids: the average UTF-8 width comes from the same pass as
    // the node count, so the byte bound costs no extra job
    val (n, avgIdBytes) =
      if (nodeType == org.apache.spark.sql.types.StringType) {
        val r = nodes.agg(count(lit(1)), avg(octet_length(col("node")))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      } else (nodes.count(), 0.0)
    require(n > 0, "empty graph")
    // Node-bounded graphs iterate the rank state on the DRIVER (r20;
    // the popularityNegatives maxLocalRanges discipline): rank/outdeg
    // are node-sized maps, shares re-enter each iteration as a
    // broadcast LOCAL relation — LocalTableScan builds its broadcast
    // without a distributed job — so each iteration runs exactly ONE
    // job (the edge-scan contribution rollup, collected node-sized).
    // The distributed loop below stays the above-threshold path:
    // billion-node graphs never collect. Identical integer arithmetic;
    // GraphSpec pins bit-identity between the two paths, interleaved
    // A/B `prlocal` (4 reps, hash-identical, 21k nodes): wins 4/4,
    // 4.93 -> 4.26 s warm, 11.7 -> 4.9 s cold at sf0.1. The gate bounds
    // estimated driver BYTES, not nodes: a graph of long string ids
    // must not reach the driver just because its node count is small.
    if (n * (idBytes(nodeType, avgIdBytes) + LocalBytesPerNode) <= maxLocalBytes) {
      val nodeArr = nodes.collect().map(_.get(0))
      val outdegM: Map[Any, Long] = e.groupBy("src")
        .agg(count(lit(1)).as("outdeg")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val base = (1000000000000L * 15L / 100L) / n
      var rankM: Map[Any, Long] =
        nodeArr.iterator.map(v => v -> (1000000000000L / n)).toMap
      val shareSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src", nodeType),
        org.apache.spark.sql.types.StructField("share",
          org.apache.spark.sql.types.LongType)))
      for (_ <- 1 to iterations) {
        val shareRows = nodeArr.iterator.flatMap { v =>
          outdegM.get(v).map(d => org.apache.spark.sql.Row(
            v, (rankM(v) * 85L / 100L) / d))
        }.toSeq
        val shares = spark.createDataFrame(
          java.util.Arrays.asList(shareRows: _*), shareSchema)
        val inflow: Map[Any, Long] = e.join(broadcast(shares), "src")
          .select(col("dst").as("node"), col("share"))
          .groupBy("node").agg(sum("share").as("inflow")).collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        rankM = nodeArr.iterator
          .map(v => v -> (base + inflow.getOrElse(v, 0L))).toMap
      }
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("rank_micro",
          org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(java.util.Arrays.asList(
        nodeArr.map(v => org.apache.spark.sql.Row(v, rankM(v))).toSeq: _*),
        outSchema)
    }
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val base = (1000000000000L * 15L / 100L) / n
    var rank = nodes.withColumn("rank_micro", lit(1000000000000L / n))
    for (_ <- 1 to iterations) {
      // rank⋈outdeg is node-sized: broadcast it into the edge join when
      // it fits (n is already counted), so the edge table never
      // shuffles for the join — only the inflow rollup exchanges.
      // Billion-node graphs fall back to shuffle joins automatically.
      val shares = Plan.broadcastIfBounded(
        rank.join(outdeg, rank("node") === outdeg("src"))
          .select(col("src"),
            expr("(rank_micro * 85 div 100) div outdeg").as("share")),
        n, 32L)
      val contrib = e.join(shares, "src")
        .select(col("dst").as("node"), col("share"))
        .groupBy("node").agg(sum("share").as("inflow"))
      // contrib is node-sized and already aggregated: broadcast the
      // rank refresh too when it fits (r19 A/B `pagerank`: wins 3/4
      // interleaved reps, 12.3->6.6 s cold, hash-identical) — the
      // nodes spine then never re-sorts per iteration; billion-node
      // graphs fall back to the shuffle join via the same bound
      rank = nodes
        .join(Plan.broadcastIfBounded(contrib, n, 16L), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank_micro"))
    }
    rank
  }

  /** The oracle twin: unrolled-CTE SQL computing the same integer
    * iterations over an `edges` CTE the caller supplies (must define
    * columns `src, dst`). Kept here so the Spark loop and the SQL
    * string can never drift apart. */
  def pageRankSql(edgesCte: String, iterations: Int = 10): String = {
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST(base.b + coalesce(inf.s, 0) AS BIGINT) AS rank_micro
         |  FROM nodes n CROSS JOIN base
         |  LEFT JOIN (SELECT e.dst AS node,
         |      CAST(sum((rr.rank_micro * 85 // 100) // d.outdeg) AS BIGINT) AS s
         |    FROM r${i - 1} rr
         |    JOIN outdeg d ON d.src = rr.node
         |    JOIN e ON e.src = rr.node
         |    GROUP BY e.dst) inf ON inf.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |base AS (SELECT (1000000000000 * 15 // 100) // count(*) AS b FROM nodes),
       |r0 AS (SELECT node,
       |  (SELECT 1000000000000 // count(*) FROM nodes) AS rank_micro FROM nodes),
       |$iters
       |SELECT node, rank_micro FROM r$iterations""".stripMargin
  }

  /** Per-node triangle counts over an undirected edge table
    * (`src`, `dst`; either orientation, self-loops and duplicates
    * dropped). Output `(node, n_tri)` for every edge endpoint.
    *
    * Scale shape: the degree-ordered wedge join (Suri & Vassilvitskii,
    * WWW '11 — "the curse of the last reducer"). Each edge is directed
    * from its lower-(degree, id) endpoint to the higher, so every
    * node's out-neighborhood is O(√m) even on power-law graphs; wedges
    * are enumerated per out-neighborhood (the quadratic stays bounded
    * at the hub nodes where the naive node-iterator dies) and closed
    * with one equi-join back to the directed edge set. Three shuffles
    * total (distinct, wedge self-join on `u`, closing join), all
    * equi-joins. The triangle SET is rank-order-invariant, so an
    * independent engine may count with plain id-ordered joins and get
    * identical rows. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleDegrees(edges).select("node", "n_tri")

  /** [[triangleCounts]] plus the undirected degree — the shared rollup
    * for the local clustering coefficient (one wedge join serves both). */
  def triangleDegrees(edges: DataFrame): DataFrame = {
    // und feeds 3 consumers (both union legs of deg + the rank join)
    // and directed feeds 3 (both wedge spokes + the closing join):
    // localCheckpoint each so the upstream distinct/joins run once
    // instead of per-consumer (checkpoint blocks are ContextCleaner-
    // reclaimed, unlike a cacheManager persist)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val degAll = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // node-sized: broadcast into both rank joins when it fits (the
    // checkpointed edge set has no stats, so the hint is explicit);
    // a billion-node graph falls back to shuffle joins
    val nNodes = degAll.count()
    val deg = Plan.broadcastIfBounded(degAll, nNodes, 24L)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // direct each edge low-rank → high-rank by the (deg, node) struct
    // (node ids unique ⇒ total order)
    val directed = withDeg.select(
      expr("IF(struct(da, a) < struct(db, b), a, b)").as("u"),
      expr("IF(struct(da, a) < struct(db, b), b, a)").as("v"))
      .localCheckpoint()
    val m = directed.count()
    // Close triangles by per-edge intersection of the two endpoints'
    // out-neighborhoods (r20; the array-verify trick from
    // Dedup.jaccardVerify applied to the closing step): a triangle
    // x<y<z in rank order has directed edges x→y, x→z, y→z, so for
    // each directed edge (x, y) every w ∈ N+(x) ∩ N+(y) closes exactly
    // one triangle (x, y, w), counted once at its two lowest-rank
    // members' edge — x and y each gain |I|, each w gains 1. This
    // replaces the r19 wedge zip-explode + closing join: the O(m^1.5)
    // wedge stream never materializes as rows — the quadratic work
    // runs inside one codegen'd array_intersect per edge — and every
    // exchange is edge- or node-sized. Out-neighborhoods are O(√m) by
    // the degree orientation (a per-row memory bound as before, now
    // two arrays per edge row: ~16 B/entry ⇒ ~32 MB rows at m = 10^12).
    // Interleaved A/B (OPTIMIZATION_r20 `triint`, 4 reps, hash-identical
    // through clusteringCoeff): wins 4/4, 5.9 → 4.2 s warm,
    // 18.4 → 10.7 s cold at sf0.1.
    val ns = directed.groupBy("u").agg(collect_list(col("v")).as("ns"))
    // ns total payload is m ids spread over ≤ nNodes rows: broadcast
    // both attaches when that fits the session threshold; billion-edge
    // graphs fall back to two edge-sized shuffle joins
    val nsB = Plan.broadcastIfBounded(ns, m + nNodes, 24L)
    val withI = directed
      .join(nsB.select(col("u").as("_x"), col("ns").as("nx")),
        col("u") === col("_x"))
      .join(nsB.select(col("u").as("_y"), col("ns").as("ny")),
        col("v") === col("_y"))
      .select(col("u"), col("v"),
        array_intersect(col("nx"), col("ny")).as("ii"))
    // one explode emits all three contribution kinds so the intersect
    // subtree is derived once (a union of two consumers re-derives it;
    // measured: fused explode wins 4/4 vs the union form, 4.7 → 3.9 s
    // warm, 11.2 → 6.1 s cold)
    val perNode = withI
      .select(explode(expr(
        "concat(array(struct(u AS node, bigint(size(ii)) AS c), " +
          "struct(v AS node, bigint(size(ii)) AS c)), " +
          "transform(ii, w -> struct(w AS node, 1L AS c)))")).as("e"))
      .select(col("e.node").as("node"), col("e.c").as("c"))
      .groupBy("node").agg(sum("c").as("n_tri"))
      .filter(col("n_tri") > 0)
    // left side of a left-outer can't be the broadcast build side, but
    // the RIGHT side can: perNode is node-bounded (<= nNodes), so the
    // spine join broadcasts it when it fits (r19 — the plan's last
    // SortMergeJoin; billion-node graphs fall back)
    degAll.join(Plan.broadcastIfBounded(perNode, nNodes, 24L),
        Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** k-core peeling over an undirected edge table — the graph-quality
    * filter ("keep pages embedded in a dense link neighborhood", the
    * crawl-spam heuristic): run exactly `peels` rounds of "drop every
    * node with degree < k and its edges". A fixed peel count (not
    * run-to-convergence) is the determinism contract: converged or
    * not, an independent engine unrolling the same `peels` stages
    * computes the identical edge set — and once the set is stable,
    * extra peels are no-ops, so any `peels` ≥ the convergence round
    * yields the exact k-core. (TPC-ish co-occurrence graphs converge
    * in < 10 peels; raise `peels` for adversarial chains.)
    *
    * Scale shape: per peel, one degree aggregation (map-side combined)
    * + two semi joins against the node-sized survivor set, over a
    * SHRINKING edge table checkpointed each round (lineage stays one
    * peel deep). Output: `(node, core_deg)` — survivors with their
    * degree inside the peeled subgraph. */
  def kCore(edges: DataFrame, k: Int, peels: Int = 10): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(peels >= 1 && peels <= 30, s"peels in [1,30], got $peels")
    // symmetric adjacency (both directions) so degree = count per `u`
    val und0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var adj = und0.select(col("a").as("u"), col("b").as("v"))
      .union(und0.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    // survivor sets only shrink, so the initial node count bounds every
    // round: when it fits the broadcast threshold, both per-peel semi
    // joins broadcast and only the degree rollup shuffles (at a
    // billion-node graph the bound correctly falls back to shuffles)
    val n0 = adj.select("u").distinct().count()
    // Early exit at the fixpoint: the adjacency only SHRINKS, so an
    // unchanged edge count means an unchanged edge SET and every
    // remaining peel is a no-op — identical output to the fixed-peel
    // loop (and to the oracle's unrolled CTEs, whose extra rounds are
    // no-ops for the same reason), at a fraction of the
    // materializations when convergence is early. The count is nearly
    // free: adj is already localCheckpoint-materialized each round.
    var prevEdges = adj.count()
    var continue = true
    for (_ <- 1 to peels if continue) {
      val alive = Plan.broadcastIfBounded(
        adj.groupBy("u").agg(count(lit(1)).as("_d"))
          .filter(col("_d") >= k).select("u"),
        n0)
      adj = adj
        .join(alive, Seq("u"), "left_semi")
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint()
      val cur = adj.count()
      if (cur == prevEdges) continue = false
      prevEdges = cur
    }
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** The oracle twin of [[kCore]]: unrolled-CTE SQL over an `edges`
    * CTE the caller supplies (columns `src, dst`). */
  def kCoreSql(edgesCte: String, k: Int, peels: Int = 10): String = {
    // MATERIALIZED is load-bearing: each stage references its
    // predecessor 3×, so an inlining planner would expand the chain
    // 3^peels-fold (DuckDB hit "too many open files" at 8 peels)
    val stages = (1 to peels).map { i =>
      s"""a$i AS MATERIALIZED (SELECT e.u, e.v FROM a${i - 1} e
         |  JOIN (SELECT u FROM a${i - 1} GROUP BY u HAVING count(*) >= $k) su
         |    ON su.u = e.u
         |  JOIN (SELECT u FROM a${i - 1} GROUP BY u HAVING count(*) >= $k) sv
         |    ON sv.u = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS MATERIALIZED ($edgesCte),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |  greatest(src, dst) AS b FROM raw WHERE src != dst),
       |a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM und
       |  UNION ALL SELECT b AS u, a AS v FROM und),
       |$stages
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM a$peels GROUP BY 1""".stripMargin
  }

  /** Local clustering coefficient per node in integer basis points:
    * `cc_bp = (2·n_tri·10^4) div (deg·(deg−1))` (Watts & Strogatz
    * 1998), 0 for degree-<2 nodes. All operands positive → the
    * truncating division replays identically in any SQL engine.
    * Output `(node, deg, n_tri, cc_bp)`. */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    triangleDegrees(edges).select(col("node"), col("deg"), col("n_tri"),
      when(col("deg") >= 2,
        expr("(20000L * n_tri) div (deg * (deg - 1L))"))
        .otherwise(lit(0L)).as("cc_bp"))
}
