package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r19 optimization A/B probe: times CURRENT operator forms against
  * candidate restructures on the bench corpus, asserting output
  * identity via [[Bench.forcedCountHash]] (rows + bit_xor content
  * hash) before any timing is trusted. Each experiment prints one
  * line: `OPT <name> current=<s> variant=<s> rows=<n> hash_ok=<bool>`.
  *
  * Usage: sbt "runMain graft.OptProbe <exp1,exp2,...|all> [reps]"
  * (SPARK_GRAFT_SF_DIR selects the data, default sf0.1)
  */
object OptProbe {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** kCore with the u-side degree decided by a window over the
    * repartitioned adjacency (no u-side semi join, one scan per peel)
    * — candidate for Graph.kCore. */
  def kCoreWindowed(edges: DataFrame, k: Int, peels: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var adj = und0.select(col("a").as("u"), col("b").as("v"))
      .union(und0.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val n0 = adj.select("u").distinct().count()
    var prevEdges = adj.count()
    var continue = true
    for (_ <- 1 to peels if continue) {
      val wu = Window.partitionBy("u")
      val kept = adj
        .withColumn("_d", count(lit(1)).over(wu))
        .filter(col("_d") >= k)
        .select("u", "v")
      val alive = graft.util.Plan.broadcastIfBounded(
        kept.select("u").distinct(), n0)
      adj = kept
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint()
      val cur = adj.count()
      if (cur == prevEdges) continue = false
      prevEdges = cur
    }
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** kCore with checkpoint+count every SECOND peel: the intermediate
    * peel's survivor set still broadcasts, but its edge set stays lazy
    * (recomputed once inside the next peel's aggregate and once in the
    * checkpoint — cheap broadcast semi-joins), halving the
    * materialization/count job pairs. */
  def kCoreStride2(edges: DataFrame, k: Int, peels: Int): DataFrame = {
    import graft.util.Plan
    val und0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var adj = und0.select(col("a").as("u"), col("b").as("v"))
      .union(und0.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val n0 = adj.select("u").distinct().count()
    var prevEdges = adj.count()
    var continue = true
    var done = 0
    while (continue && done < peels) {
      val stride = math.min(2, peels - done)
      var cur = adj
      for (_ <- 1 to stride) {
        val alive = Plan.broadcastIfBounded(
          cur.groupBy("u").agg(count(lit(1)).as("_d"))
            .filter(col("_d") >= k).select("u"),
          n0)
        cur = cur
          .join(alive, Seq("u"), "left_semi")
          .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
          .select("u", "v")
      }
      adj = cur.localCheckpoint()
      done += stride
      val c = adj.count()
      if (c == prevEdges) continue = false
      prevEdges = c
    }
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** pageRank with the per-iteration rank refresh as a broadcast hash
    * join (contrib is node-sized and already aggregated) instead of a
    * sort-merge left join that exchanges `nodes` every iteration. */
  def pageRankBcast(
      spark: SparkSession, edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    require(n > 0, "empty graph")
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val base = (1000000000000L * 15L / 100L) / n
    var rank = nodes.withColumn("rank_micro", lit(1000000000000L / n))
    for (_ <- 1 to iterations) {
      val shares = graft.util.Plan.broadcastIfBounded(
        rank.join(outdeg, rank("node") === outdeg("src"))
          .select(col("src"),
            expr("(rank_micro * 85 div 100) div outdeg").as("share")),
        n, 32L)
      val contrib = e.join(shares, "src")
        .select(col("dst").as("node"), col("share"))
        .groupBy("node").agg(sum("share").as("inflow"))
      rank = nodes
        .join(graft.util.Plan.broadcastIfBounded(contrib, n, 16L),
          Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank_micro"))
    }
    rank
  }

  /** PageRank with the node-sized rank state iterated on the DRIVER
    * (bounded, like popularityNegatives' maxLocalRanges path): rank and
    * outdeg live in driver maps, shares re-enter each iteration as a
    * broadcast LOCAL relation (no distributed build job — LocalTableScan
    * evaluates without a Spark job), and only the edge-scan contribution
    * rollup runs as a job (one per iteration, collected node-sized).
    * Identical integer arithmetic to [[graft.operators.Graph.pageRank]]. */
  def pageRankDriverLoop(
      spark: SparkSession, edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodesDf = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodeType = nodesDf.schema.fields(0).dataType
    val nodes = nodesDf.collect().map(_.get(0))
    val n = nodes.length.toLong
    require(n > 0, "empty graph")
    val outdeg: Map[Any, Long] = e.groupBy("src")
      .agg(count(lit(1)).as("outdeg")).collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val base = (1000000000000L * 15L / 100L) / n
    var rank: Map[Any, Long] =
      nodes.iterator.map(v => v -> (1000000000000L / n)).toMap
    val shareSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src", nodeType),
      org.apache.spark.sql.types.StructField("share",
        org.apache.spark.sql.types.LongType)))
    var out: DataFrame = null
    for (i <- 1 to iterations) {
      val shareRows = nodes.iterator.flatMap { v =>
        outdeg.get(v).map(d => org.apache.spark.sql.Row(
          v, (rank(v) * 85L / 100L) / d))
      }.toSeq
      val shares = spark.createDataFrame(
        java.util.Arrays.asList(shareRows: _*), shareSchema)
      val inflow: Map[Any, Long] = e.join(broadcast(shares), "src")
        .select(col("dst").as("node"), col("share"))
        .groupBy("node").agg(sum("share").as("inflow")).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      rank = nodes.iterator
        .map(v => v -> (base + inflow.getOrElse(v, 0L))).toMap
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("rank_micro",
        org.apache.spark.sql.types.LongType)))
    out = spark.createDataFrame(java.util.Arrays.asList(
      nodes.map(v => org.apache.spark.sql.Row(v, rank(v))).toSeq: _*), outSchema)
    out
  }

  /** Assoc.rules with ONE shared exchange: the capped item set is
    * repartitioned by basket right after the checkpoint so the size
    * rollup and both self-join sides reuse a single exchange. */
  def assocRulesShared(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long, maxBasketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val it = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    // one exchange on basket; the window size-cap replaces the
    // aggregate+join of cappedItems and leaves the data
    // basket-partitioned for the pair self-join
    val ok = it
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("basket")))
      .filter(col("bsize") <= maxBasketSize)
      .select("basket", "item")
      .localCheckpoint()
    val nb = ok.agg(countDistinct("basket").as("n_baskets"))
    val ic = ok.groupBy("item").agg(count(lit(1)).as("n"))
    val pc = ok.select(col("basket"), col("item").as("item_a"))
      .join(ok.select(col("basket"), col("item").as("item_b")), "basket")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pc
      .join(ic.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(ic.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .crossJoin(broadcast(nb))
      .select(
        col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((1000000L * n_ab) div n_baskets AS BIGINT)").as("support_ppm"),
        expr("CAST((1000000L * n_ab) div n_a AS BIGINT)").as("conf_ab_ppm"),
        expr("CAST((1000000L * n_ab) div n_b AS BIGINT)").as("conf_ba_ppm"),
        expr("CAST((1000000L * n_ab * n_baskets) div (n_a * n_b) AS BIGINT)")
          .as("lift_micro"))
  }

  /** prefixFilterPairs with the shingle table localCheckpointed so the
    * tokenize+explode+hash pipeline runs once instead of per consumer
    * (probe/index legs, sizes, both verify joins). */
  def prefixPairsCkpt(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.5,
      ckptOrdered: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.pipeline.Dedup
    val toks = Dedup.shingles(docs, idCol, textCol, shingleSize)
      .select(col("doc_id"), col("sh").as("tok")).localCheckpoint()
    val dfTbl = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    val wPos = Window.partitionBy("doc_id").orderBy(col("tdf"), col("tok"))
    val wSz = Window.partitionBy("doc_id")
    val ordered0 = toks.join(dfTbl, "tok")
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("sz", count(lit(1)).over(wSz))
    val ordered = if (ckptOrdered) ordered0.localCheckpoint() else ordered0
    val jt = minJaccard
    val probe = ordered.filter(
      col("pos") <= col("sz") - ceil(lit(jt) * col("sz") - lit(1e-6)) + lit(1L))
    val index = ordered.filter(
      col("pos") <= col("sz") -
        ceil(lit(2.0 * jt / (1.0 + jt)) * col("sz") - lit(1e-6)) + lit(1L))
    val cand = index.select(col("doc_id").as("a0"), col("sz").as("_n0"),
        col("pos").as("_p0"), col("tok"))
      .join(probe.select(col("doc_id").as("b0"), col("sz").as("_n1"),
        col("pos").as("_p1"), col("tok")), "tok")
      .filter(col("_n0") < col("_n1") ||
        (col("_n0") === col("_n1") && col("a0") < col("b0")))
      .filter(col("_n0") >= ceil(lit(jt) * col("_n1") - lit(1e-6)))
      .groupBy("a0", "b0")
      .agg(count(lit(1)).as("_m"),
        max("_p0").as("_mp0"), max("_p1").as("_mp1"),
        first("_n0").as("_fn0"), first("_n1").as("_fn1"))
      .filter(col("_m") +
        least(col("_fn0") - col("_mp0"), col("_fn1") - col("_mp1")) >=
        ceil(lit(jt / (1.0 + jt)) * (col("_fn0") + col("_fn1")) - lit(1e-6)))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(toks.select(col("doc_id").as("a"), col("tok")), "a")
      .join(toks.select(col("doc_id").as("b"), col("tok")), Seq("b", "tok"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .withColumn("jaccard_bp",
        expr("n_shared * 10000 div (n_a + n_b - n_shared)"))
      .filter(col("jaccard_bp") >= (minJaccard * 10000).toLong)
      .select("a", "b", "n_a", "n_b", "n_shared", "jaccard_bp")
  }

  /** minhashDedupPairs with the shingle table localCheckpointed (it
    * feeds the signature chain + three verify consumers). */
  def minhashPairsCkpt(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize).localCheckpoint()
    val pairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, numPerm), rowsPerBand))
    Dedup.jaccardVerify(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** ngramJaccardPairs with the shingle table localCheckpointed. */
  def ngramPairsCkpt(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int, minJaccard: Double,
      minSharedRare: Int = 2): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize).localCheckpoint()
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf && col("df") >= 2)
      .select("sh")
    val rareSh = sh.join(rare, "sh")
    val pairs = rareSh.groupBy("sh")
      .agg(array_sort(collect_list("doc_id")).as("sids"))
      .select(explode(expr(
        "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
      .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minSharedRare)
      .select("a", "b")
    Dedup.jaccardVerify(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** duplicateClusters with the node-sized star minima broadcast into
    * their edge-sized joins (bounded by 2x the checkpointed edge
    * count, known each round) and the convergence `except` replaced by
    * a left_anti over the already-distinct edge sets. */
  def clustersBcast(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    var edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val nbrs = edges.select(col("a").as("v"), col("b").as("u"))
        .union(edges.select(col("b").as("v"), col("a").as("u")))
      val mins = graft.util.Plan.broadcastIfBounded(
        nbrs.groupBy("v").agg(least(min("u"), first("v")).as("m")),
        2L * edgeCount, 24L)
      val large = nbrs.join(mins, "v")
        .filter(col("u") > col("v"))
        .select(col("u").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val dir = large.select(greatest(col("a"), col("b")).as("v"),
        least(col("a"), col("b")).as("u"))
      val smins = graft.util.Plan.broadcastIfBounded(
        dir.groupBy("v").agg(min("u").as("m")), 2L * edgeCount, 24L)
      val small = dir.join(smins, "v")
        .select(col("u").as("a"), col("m").as("b"))
        .union(smins.select(col("v").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      val smallCount = small.count()
      converged = smallCount == edgeCount &&
        small.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges = small
      edgeCount = smallCount
      it += 1
    }
    require(converged, s"clustersBcast did not converge in $maxIters rounds")
    val labels = edges.groupBy(col("a").as("doc_id")).agg(min("b").as("lbl"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** cosineDedupPairsWith restructured per guide §8: pair generation
    * and the (a,b) dedup run over id-only rows (the multi-probe join
    * key + 16 bytes), and the embeddings are attached afterwards by
    * two joins against the (bounded, broadcastable) embedding table —
    * the heavy payload never rides the pair-gen or dedup exchanges. */
  def cosineDedupPairsLight(
      spark: SparkSession, docs: DataFrame, centroids: Array[Float],
      dim: Int, minCosine: Double, probes: Int): DataFrame = {
    import graft.pipeline.Similarity
    graft.functions.ArrayMath.register(spark)
    val assign = Similarity.assignTopP(spark, docs, centroids, dim, probes)
    val aIds = assign.select(col("code"), col("vec_id").as("a"))
    val bIds = assign.select(col("code"), col("vec_id").as("b"))
    val pairs = aIds.join(bIds, "code")
      .filter(col("a") < col("b"))
      .select("a", "b")
      .dropDuplicates(Seq("a", "b"))
    val emb = docs.select("vec_id", "embedding")
    val nVec = emb.count()
    val embB = graft.util.Plan.broadcastIfBounded(emb, nVec, 300L)
    pairs
      .join(embB.select(col("vec_id").as("a"), col("embedding").as("qemb")), "a")
      .join(embB.select(col("vec_id").as("b"), col("embedding")), "b")
      .withColumn("cosine",
        expr("dot_f(qemb, embedding)") / greatest(
          expr("sqrt(dot_f(qemb, qemb))") * expr("sqrt(dot_f(embedding, embedding))"), lit(1e-12)))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "cosine")
  }

  /** semDedup with id+simc pair generation and post-filter embedding
    * attach (the cosineDedupPairsLight restructure). */
  def semDedupLight(
      spark: SparkSession, docs: DataFrame, centroids: Array[Float],
      dim: Int, tau: Double, maxClusterSize: Int = 10000): DataFrame = {
    import graft.pipeline.Similarity
    graft.functions.ArrayMath.register(spark)
    import spark.implicits._
    val centDf = broadcast(
      centroids.grouped(dim).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("code", "centroid"))
    val assign = Similarity.assignTopP(spark, docs, centroids, dim, p = 1)
    val emb = docs.select("vec_id", "embedding")
    val embB = graft.util.Plan.broadcastIfBounded(
      emb, emb.count(), bytesPerRow = dim.toLong * 4L + 64L)
    val members = assign
      .join(embB, "vec_id")
      .join(centDf, "code")
      .withColumn("simc",
        expr("dot_f(embedding, centroid)") /
          greatest(expr("sqrt(dot_f(embedding, embedding))") *
            expr("sqrt(dot_f(centroid, centroid))"), lit(1e-12)))
      .select("code", "vec_id", "simc")
    val okClusters = members.groupBy("code")
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxClusterSize)
      .select("code")
    val a = members.join(okClusters, Seq("code"), "left_semi")
      .select(col("code"), col("vec_id").as("a"), col("simc").as("simc_a"))
    val b = members.join(okClusters, Seq("code"), "left_semi")
      .select(col("code"), col("vec_id").as("b"), col("simc").as("simc_b"))
    val dropped = a.join(b, "code")
      .filter(col("simc_a") < col("simc_b") ||
        (col("simc_a") === col("simc_b") && col("a") < col("b")))
      .join(embB.select(col("vec_id").as("a"), col("embedding").as("qemb")), "a")
      .join(embB.select(col("vec_id").as("b"), col("embedding")), "b")
      .withColumn("cosine",
        expr("dot_f(qemb, embedding)") / greatest(
          expr("sqrt(dot_f(qemb, qemb))") * expr("sqrt(dot_f(embedding, embedding))"),
          lit(1e-12)))
      .filter(col("cosine") >= tau)
      .groupBy(col("b").as("vec_id"))
      .agg(min(struct(col("simc_a"), col("a"))).as("_m"))
      .select(col("vec_id"), col("_m.a").as("dup_of"))
    assign.select("vec_id", "code")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("code").cast("long").as("code"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** ed1Pairs with the deletion-neighborhood bucket pairs enumerated by
    * collect+zip-explode (the candidatePairs shape): one exchange on
    * `v` replaces the cap aggregation join AND the bucket self-join;
    * the cap becomes a size filter on the collected array. */
  def ed1PairsExplode(
      df: DataFrame, tokCol: String,
      minLen: Int = 4, maxLen: Int = 64, maxBucket: Int = 1000): DataFrame = {
    val toks = df.select(col(tokCol).as("tok")).distinct()
      .filter(length(col("tok")).between(minLen, maxLen))
    val variants = toks
      .select(col("tok"), explode(expr("sequence(0, length(tok))")).as("i"))
      .select(col("tok"), when(col("i") === 0, col("tok"))
        .otherwise(concat(
          expr("substring(tok, 1, i - 1)"),
          expr("substring(tok, i + 1, length(tok))"))).as("v"))
      .distinct()
    variants
      .groupBy("v").agg(sort_array(collect_list("tok")).as("ts"))
      .filter(size(col("ts")).between(2, maxBucket))
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS ta, slice(ts, i + 2, size(ts)) AS rest))")).as("e"))
      .select(col("e.ta").as("tok_a"), explode(col("e.rest")).as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
  }

  /** incrementalDedupPairs with the two band tables localCheckpointed
    * (each feeds the occupancy union + its semi-join + the pair join,
    * re-deriving the full shingle->signature->band chain per consumer). */
  def incrDedupCkpt(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int, rowsPerBand: Int,
      minJaccard: Double, maxBucketSize: Int = 10000): DataFrame = {
    import graft.pipeline.Dedup
    val shC = Dedup.shingles(corpus, idCol, textCol, shingleSize)
    val shN = Dedup.shingles(incoming, idCol, textCol, shingleSize)
    val bandsC = Dedup.lshBands(Dedup.minhashSignatures(shC, numPerm), rowsPerBand)
      .localCheckpoint()
    val bandsN = Dedup.lshBands(Dedup.minhashSignatures(shN, numPerm), rowsPerBand)
      .localCheckpoint()
    val occ = bandsC.select("band", "band_sig")
      .union(bandsN.select("band", "band_sig"))
      .groupBy("band", "band_sig").agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucketSize && col("_n") >= 2)
      .select("band", "band_sig")
    val nOk = bandsN.join(occ, Seq("band", "band_sig"), "left_semi")
    val cOk = bandsC.join(occ, Seq("band", "band_sig"), "left_semi")
    val newXold = nOk.select(col("band"), col("band_sig"), col("doc_id").as("x"))
      .join(cOk.select(col("band"), col("band_sig"), col("doc_id").as("y")),
        Seq("band", "band_sig"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    val newXnew = Dedup.candidatePairs(nOk, maxBucketSize)
    val pairs = newXold.union(newXnew).distinct()
    Dedup.jaccardVerify(pairs, shC.union(shN)).filter(col("jaccard") >= minJaccard)
  }

  /** triangleDegrees with wedges enumerated by per-head collect +
    * zip-explode over the rank-sorted out-neighborhood instead of the
    * e1-x-e2 self-join on u: out-neighborhoods are O(sqrt m) by the
    * degree orientation, so the collected arrays stay bounded on
    * power-law graphs. */
  def triangleDegreesWedgeExplode(edges: DataFrame): DataFrame = {
    import graft.util.Plan
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val degAll = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val deg = Plan.broadcastIfBounded(degAll, degAll.count(), 24L)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val directed = withDeg.select(
      expr("IF(struct(da, a) < struct(db, b), a, b)").as("u"),
      expr("IF(struct(da, a) < struct(db, b), b, a)").as("v"),
      expr("IF(struct(da, a) < struct(db, b), struct(db AS d, b AS n), " +
        "struct(da AS d, a AS n))").as("rv"))
      .localCheckpoint()
    // per-head sorted out-neighborhood (sort key = the (deg, node) rank
    // struct; node ids are unique so the order is total), pairs by
    // zip-of-slices — one exchange on u replaces the e1-x-e2 self-join
    val wedges = directed
      .groupBy("u")
      .agg(sort_array(collect_list(col("rv"))).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(col("u"), explode(expr(
        "transform(sequence(0, size(ns) - 2), " +
          "i -> struct(ns[i].n AS v1, transform(slice(ns, i + 2, size(ns)), x -> x.n) AS rest))"))
        .as("e"))
      .select(col("u"), col("e.v1").as("v1"), explode(col("e.rest")).as("v2"))
    val closing = Plan.broadcastIfBounded(
      directed.select(col("u").as("v1"), col("v").as("v2")),
      directed.count(), bytesPerRow = 24L)
    val tri = wedges.join(closing, Seq("v1", "v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    degAll.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  def clusteringCoeffWedgeExplode(edges: DataFrame): DataFrame =
    triangleDegreesWedgeExplode(edges).select(col("node"), col("deg"), col("n_tri"),
      when(col("deg") >= 2,
        expr("(20000L * n_tri) div (deg * (deg - 1L))"))
        .otherwise(lit(0L)).as("cc_bp"))

  /** Triangle counting by per-edge array_intersect of the two
    * endpoints' out-neighborhoods (the jaccardVerify trick applied to
    * the closing step): for each degree-directed edge (x, y), every
    * w in N+(x) ∩ N+(y) closes the triangle (x, y, w) — counted exactly
    * once at its two lowest-rank members' edge. x and y each gain |I|,
    * each w gains 1. Removes the O(m^1.5) wedge materialization AND the
    * closing join: the quadratic work happens inside a codegen'd array
    * intersection per edge row instead of exploded rows through a
    * hash-join probe. Exchanges are all edge- or node-sized. */
  def triangleDegreesIntersect(edges: DataFrame): DataFrame = {
    import graft.util.Plan
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val degAll = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nNodes = degAll.count()
    val deg = Plan.broadcastIfBounded(degAll, nNodes, 24L)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val directed = withDeg.select(
      expr("IF(struct(da, a) < struct(db, b), a, b)").as("u"),
      expr("IF(struct(da, a) < struct(db, b), b, a)").as("v"))
      .localCheckpoint()
    val m = directed.count()
    val ns = directed.groupBy("u").agg(collect_list(col("v")).as("ns"))
    // ns total payload is m ids spread over <= nNodes rows
    val nsB = Plan.broadcastIfBounded(ns, m + nNodes, 24L)
    val withI = directed
      .join(nsB.select(col("u").as("_x"), col("ns").as("nx")),
        col("u") === col("_x"))
      .join(nsB.select(col("u").as("_y"), col("ns").as("ny")),
        col("v") === col("_y"))
      .select(col("u"), col("v"),
        array_intersect(col("nx"), col("ny")).as("ii"))
    // one explode emits all three contribution kinds so the intersect
    // subtree is derived once (a union of two consumers re-derives it)
    val perNode = withI
      .select(explode(expr(
        "concat(array(struct(u AS node, bigint(size(ii)) AS c), " +
          "struct(v AS node, bigint(size(ii)) AS c)), " +
          "transform(ii, w -> struct(w AS node, 1L AS c)))")).as("e"))
      .select(col("e.node").as("node"), col("e.c").as("c"))
      .groupBy("node").agg(sum("c").as("n_tri"))
      .filter(col("n_tri") > 0)
    degAll.join(Plan.broadcastIfBounded(perNode, nNodes, 24L),
        Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  def clusteringCoeffIntersect(edges: DataFrame): DataFrame =
    triangleDegreesIntersect(edges).select(col("node"), col("deg"), col("n_tri"),
      when(col("deg") >= 2,
        expr("(20000L * n_tri) div (deg * (deg - 1L))"))
        .otherwise(lit(0L)).as("cc_bp"))

  /** The PRE-r20 simhash shape, preserved as the standing A/B control:
    * doc×term×bit explode (`bits`-fold row multiplier) into a
    * (doc, bit) aggregation, then the fingerprint rollup. */
  def simhashExplode(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", graft.pipeline.Dedup.hash60(col("term"), lit(0)))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${bits - 1})")).as("bit"),
        expr("CASE WHEN (h div shiftleft(1L, bit)) % 2 = 1 THEN tf ELSE -tf END").as("c"))
      .groupBy("doc_id", "bit")
      .agg(sum("c").as("s"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(1L, bit) ELSE 0L END")).as("simhash"))

  /** Co-occurrence pair edges by per-group collect+zip-explode instead
    * of the groupwise self-join (the candidatePairs finding applied to
    * the co-purchase edge build): one exchange on the group key, pairs
    * enumerated from the sorted in-group array. Emits src < dst with
    * the same multiset as the self-join form. */
  def pairsByGroup(items: DataFrame, grpCol: String, itemCol: String): DataFrame =
    items
      .groupBy(col(grpCol).as("_g"))
      .agg(sort_array(collect_set(col(itemCol))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ps) - 2), i -> struct(ps[i] AS src, slice(ps, i + 2, size(ps)) AS rest))")).as("e"))
      .select(col("e.src").as("src"), explode(col("e.rest")).as("dst"))

  // ---- r20 candidates ----

  /** prefixFilterPairs with the final verify as the array-intersect
    * shape (the jaccardVerify r20 form): per-doc token arrays collected
    * once from the already-checkpointed `toks`, attached to the
    * candidate pairs by two doc_id-keyed joins over the SAME set-table
    * subtree, intersection in the projection. Replaces the (b, tok)
    * re-shuffle of Σ|A|-per-pair rows + pair-count aggregate + two
    * size joins. */
  def prefixPairsArrVerify(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.pipeline.Dedup
    val toks = Dedup.shingles(docs, idCol, textCol, shingleSize)
      .select(col("doc_id"), col("sh").as("tok")).localCheckpoint()
    val dfTbl = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    val wPos = Window.partitionBy("doc_id").orderBy(col("tdf"), col("tok"))
    val wSz = Window.partitionBy("doc_id")
    val ordered = toks.join(dfTbl, "tok")
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("sz", count(lit(1)).over(wSz))
      .localCheckpoint()
    val jt = minJaccard
    val probe = ordered.filter(
      col("pos") <= col("sz") - ceil(lit(jt) * col("sz") - lit(1e-6)) + lit(1L))
    val index = ordered.filter(
      col("pos") <= col("sz") -
        ceil(lit(2.0 * jt / (1.0 + jt)) * col("sz") - lit(1e-6)) + lit(1L))
    val cand = index.select(col("doc_id").as("a0"), col("sz").as("_n0"),
        col("pos").as("_p0"), col("tok"))
      .join(probe.select(col("doc_id").as("b0"), col("sz").as("_n1"),
        col("pos").as("_p1"), col("tok")), "tok")
      .filter(col("_n0") < col("_n1") ||
        (col("_n0") === col("_n1") && col("a0") < col("b0")))
      .filter(col("_n0") >= ceil(lit(jt) * col("_n1") - lit(1e-6)))
      .groupBy("a0", "b0")
      .agg(count(lit(1)).as("_m"),
        max("_p0").as("_mp0"), max("_p1").as("_mp1"),
        first("_n0").as("_fn0"), first("_n1").as("_fn1"))
      .filter(col("_m") +
        least(col("_fn0") - col("_mp0"), col("_fn1") - col("_mp1")) >=
        ceil(lit(jt / (1.0 + jt)) * (col("_fn0") + col("_fn1")) - lit(1e-6)))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
    val sets = toks.groupBy("doc_id")
      .agg(collect_list("tok").as("ss"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("ss").as("sa"),
        col("n").as("n_a")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ss").as("sb"),
        col("n").as("n_b")), "b")
      .withColumn("n_shared",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard_bp",
        expr("n_shared * 10000 div (n_a + n_b - n_shared)"))
      .filter(col("jaccard_bp") >= (minJaccard * 10000).toLong)
      .select("a", "b", "n_a", "n_b", "n_shared", "jaccard_bp")
  }

  /** Assoc.rules with the basket self-join replaced by collect+
    * zip-explode over the already-checkpointed capped item table (the
    * candidatePairs shape): one basket-keyed exchange emits each
    * unordered pair once, instead of the self-join's B·B stream
    * filtered to a < b. Arrays are bounded by maxBasketSize — and only
    * already-capped baskets are collected, so the ed1Pairs
    * aggregation-buffer hazard does not apply. */
  def assocRulesZip(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L, maxBasketSize: Int = 64): DataFrame = {
    import graft.operators.Assoc
    val ok = Assoc.cappedItems(baskets, basketCol, itemCol, maxBasketSize)
      .localCheckpoint()
    val nb = ok.agg(countDistinct("basket").as("n_baskets"))
    val ic = ok.groupBy("item").agg(count(lit(1)).as("n"))
    val pc = ok.groupBy("basket")
      .agg(sort_array(collect_list("item")).as("is"))
      .filter(size(col("is")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(is) - 2), " +
          "i -> struct(is[i] AS ia, slice(is, i + 2, size(is)) AS rest))")).as("e"))
      .select(col("e.ia").as("item_a"), explode(col("e.rest")).as("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pc
      .join(ic.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(ic.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .crossJoin(broadcast(nb))
      .select(
        col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((1000000L * n_ab) div n_baskets AS BIGINT)").as("support_ppm"),
        expr("CAST((1000000L * n_ab) div n_a AS BIGINT)").as("conf_ab_ppm"),
        expr("CAST((1000000L * n_ab) div n_b AS BIGINT)").as("conf_ba_ppm"),
        expr("CAST((1000000L * n_ab * n_baskets) div (n_a * n_b) AS BIGINT)")
          .as("lift_micro"))
  }

  /** JsonMeta.append with `existing` localCheckpointed: the current
    * form computes `existing` TWICE (the offset count and the final
    * union leg re-derive its whole create() pipeline — from_json parse
    * + dense resequence); the checkpoint materializes it once and the
    * count reads the checkpoint. */
  def jsonAppendCkpt(spark: SparkSession, existing: DataFrame,
      rows: DataFrame): DataFrame = {
    import graft.meta.JsonMeta
    if (rows.isEmpty) return existing
    val ex = existing.localCheckpoint()
    val newTable = JsonMeta.create(spark, rows)
    val offset = ex.count()
    val shifted = newTable.withColumn("_subset_", col("_subset_") + lit(offset))
    import org.apache.spark.sql.types._
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case _ => StringType
    }
    val existingTypes = ex.schema.fields.map(f => f.name -> f.dataType).toMap
    val newTypes = shifted.schema.fields.map(f => f.name -> f.dataType).toMap
    val allCols = (ex.schema.fieldNames ++
      shifted.schema.fieldNames.filterNot(existingTypes.contains)).toSeq
    def aligned(df: DataFrame, types: Map[String, DataType]): DataFrame =
      df.select(allCols.map { c =>
        val target = (existingTypes.get(c), newTypes.get(c)) match {
          case (Some(a), Some(b)) => widen(a, b)
          case (Some(a), None)    => a
          case (None, Some(b))    => b
          case _                  => StringType
        }
        (if (types.contains(c)) col(c).cast(target)
         else lit(null).cast(target)).as(c)
      }: _*)
    aligned(ex, existingTypes).unionByName(aligned(shifted, newTypes))
  }

  /** The r1-r19 JOIN-form Jaccard verify, kept as the ×100 CONTROL arm
    * for the applied array-intersect form (same output contract). */
  def jaccardVerifyJoinForm(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("sh")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select("a", "b", "jaccard")
  }

  /** ngramJaccardPairs with the join-form verify (control arm). */
  def ngramPairsJoinVerify(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int, minJaccard: Double,
      minSharedRare: Int = 2): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf && col("df") >= 2)
      .select("sh")
    val rareSh = sh.join(rare, "sh")
    val pairs = rareSh.groupBy("sh")
      .agg(array_sort(collect_list("doc_id")).as("sids"))
      .select(explode(expr(
        "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
      .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minSharedRare)
      .select("a", "b")
    jaccardVerifyJoinForm(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** minhashDedupPairs with the join-form verify (control arm). */
  def minhashPairsJoinVerify(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, numPerm), rowsPerBand))
    jaccardVerifyJoinForm(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** jaccardVerify with per-doc shingle-set ARRAYS: collect each
    * endpoint doc's (distinct) shingle set once, attach both arrays to
    * the candidate pairs by two doc_id-keyed joins (identical subtrees
    * — one exchange, ReuseExchange dedupes), and compute
    * |A∩B| = size(array_intersect(sa, sb)) in the projection. The
    * join-based verify shuffles |pairs| x |A| intersection rows on
    * (b, sh); this shuffles each pair's two arrays exactly once. Same
    * jaccard doubles: sizes are the array sizes, inter counts distinct
    * matches (sh is distinct per doc on both paths). */
  def jaccardVerifyArrays(
      pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(collect_list("sh").as("ss"), count(lit(1)).as("n"))
    pairs
      .join(sets.select(col("doc_id").as("a"), col("ss").as("sa"),
        col("n").as("na")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ss").as("sb"),
        col("n").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select("a", "b", "jaccard")
  }

  /** ngramJaccardPairs with the array-based verify. */
  def ngramPairsArrVerify(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxShingleDf: Int, minJaccard: Double,
      minSharedRare: Int = 2): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf && col("df") >= 2)
      .select("sh")
    val rareSh = sh.join(rare, "sh")
    val pairs = rareSh.groupBy("sh")
      .agg(array_sort(collect_list("doc_id")).as("sids"))
      .select(explode(expr(
        "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
      .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minSharedRare)
      .select("a", "b")
    jaccardVerifyArrays(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** minhashDedupPairs with the array-based verify. */
  def minhashPairsArrVerify(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    import graft.pipeline.Dedup
    val sh = Dedup.shingles(docs, idCol, textCol, shingleSize)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, numPerm), rowsPerBand))
    jaccardVerifyArrays(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** c4Clean with the regex-heavy `lines` table localCheckpointed (it
    * feeds the boilerplate-df rollup AND the join probe with
    * non-identical exchanges — the dupspans/simhash r19 pattern). */
  def c4CleanCkpt(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, maxLineDf: Int = 2,
      minKeptLines: Int = 3): DataFrame = {
    import graft.pipeline.Dedup
    val lines = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .select(col("doc_id"), lower(col("_t")).contains("lorem ipsum").as("has_lorem"),
        col("_t").contains("{").as("has_brace"),
        posexplode(split(col("_t"), "\n")).as(Seq("pos", "line")))
      .withColumn("lt", trim(col("line")))
      .withColumn("rule_keep",
        col("lt").rlike("[.!?\"”]$") &&
          size(expr("regexp_extract_all(lower(lt), '[a-z0-9]+', 0)")) >= minLineWords &&
          !lower(col("lt")).contains("javascript"))
      .withColumn("lh", Dedup.hash60(Dedup.normText(col("lt")), lit(0)))
      .drop("line")
      .localCheckpoint()
    val df = lines.filter(col("rule_keep"))
      .select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("line_df"))
    lines
      .join(df, Seq("lh"), "left")
      .withColumn("keep",
        col("rule_keep") && coalesce(col("line_df"), lit(0L)) <= maxLineDf)
      .groupBy("doc_id")
      .agg(
        coalesce(concat_ws("\n",
          expr("transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, lt) END)), x -> x.lt)")),
          lit("")).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("rule_keep"), 1L).otherwise(0L)).as("n_dropped_rule"),
        sum(when(col("rule_keep") && !col("keep"), 1L).otherwise(0L))
          .as("n_dropped_boiler"),
        (!first(col("has_lorem")) && !first(col("has_brace"))).as("_pp"))
      .withColumn("page_pass", col("_pp") && col("n_kept") >= minKeptLines)
      .select("doc_id", "clean_text", "n_lines", "n_kept",
        "n_dropped_rule", "n_dropped_boiler", "page_pass")
  }

  /** The p_c4_clean gate's synthetic line structure, replicated for the
    * A/B (SparkEntry builds it inline). */
  def c4LinedInput(docs: DataFrame): DataFrame = docs
    .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    .withColumn("chunks", expr(
      "CASE WHEN size(tk) = 0 THEN CAST(array() AS array<string>) ELSE " +
        "transform(sequence(0, CAST(ceil(size(tk) / 8.0) AS INT) - 1), i -> " +
        "concat(concat_ws(' ', slice(tk, i * 8 + 1, 8)), " +
        "CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)) END"))
    .withColumn("extra", expr(
      "concat(" +
        "CASE WHEN doc_id % 3 = 0 THEN array('sign up for our newsletter today.') ELSE CAST(array() AS array<string>) END, " +
        "CASE WHEN doc_id % 7 = 0 THEN array('all rights reserved by example corp.') ELSE CAST(array() AS array<string>) END, " +
        "CASE WHEN doc_id % 89 = 0 THEN array('lorem ipsum dolor sit amet.') ELSE CAST(array() AS array<string>) END, " +
        "CASE WHEN doc_id % 97 = 0 THEN array('function render() {') ELSE CAST(array() AS array<string>) END)"))
    .withColumn("text2", concat_ws("\n", concat(col("chunks"), col("extra"))))
    .select("doc_id", "text2")

  /** ed1Pairs with the occupancy-cap restored as an allocation-free
    * count prepass + left_semi on the SAME exchange (the candidatePairs
    * guard shape): a hot deletion-variant key is dropped before
    * collect_list ever materializes its array. */
  def ed1PairsOccGuard(
      df: DataFrame, tokCol: String,
      minLen: Int = 4, maxLen: Int = 64, maxBucket: Int = 1000): DataFrame = {
    val toks = df.select(col(tokCol).as("tok")).distinct()
      .filter(length(col("tok")).between(minLen, maxLen))
    val variants = toks
      .select(col("tok"), explode(expr("sequence(0, length(tok))")).as("i"))
      .select(col("tok"), when(col("i") === 0, col("tok"))
        .otherwise(concat(
          expr("substring(tok, 1, i - 1)"),
          expr("substring(tok, i + 1, length(tok))"))).as("v"))
      .distinct()
    val ok = variants.groupBy("v").agg(count(lit(1)).as("_n"))
      .filter(col("_n").between(2, maxBucket))
      .select("v")
    variants.join(ok, Seq("v"), "left_semi")
      .groupBy("v").agg(sort_array(collect_list("tok")).as("ts"))
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS ta, slice(ts, i + 2, size(ts)) AS rest))")).as("e"))
      .select(col("e.ta").as("tok_a"), explode(col("e.rest")).as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
  }

  /** ed1Pairs with the occupancy cap as a WINDOW count over the same
    * v-keyed exchange: one derivation of `variants`, one exchange —
    * vs the applied count-prepass + left_semi, whose broadcast side
    * re-derives the whole deletion-variant subtree (the after-plan
    * shows variants twice). Still allocation-free in the ADVICE sense:
    * WindowExec buffers a hot key's ROWS with disk spill, never an
    * aggregation-buffer array, and the filter drops the bucket before
    * collect_list sees it. */
  def ed1PairsWindowGuard(
      df: DataFrame, tokCol: String,
      minLen: Int = 4, maxLen: Int = 64, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(tokCol).as("tok")).distinct()
      .filter(length(col("tok")).between(minLen, maxLen))
    val variants = toks
      .select(col("tok"), explode(expr("sequence(0, length(tok))")).as("i"))
      .select(col("tok"), when(col("i") === 0, col("tok"))
        .otherwise(concat(
          expr("substring(tok, 1, i - 1)"),
          expr("substring(tok, i + 1, length(tok))"))).as("v"))
      .distinct()
    variants
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("v")))
      .filter(col("_n").between(2, maxBucket))
      .groupBy("v").agg(sort_array(collect_list("tok")).as("ts"))
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS ta, slice(ts, i + 2, size(ts)) AS rest))")).as("e"))
      .select(col("e.ta").as("tok_a"), explode(col("e.rest")).as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
  }

  /** duplicateClusters with the per-round count of the PREVIOUS edge
    * set carried in a driver variable instead of re-counted from its
    * checkpointed blocks every round (exact same convergence test). */
  def clustersCarriedCount(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    var edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val nbrs = edges.select(col("a").as("v"), col("b").as("u"))
        .union(edges.select(col("b").as("v"), col("a").as("u")))
      val mins = nbrs.groupBy("v").agg(least(min("u"), first("v")).as("m"))
      val large = nbrs.join(mins, "v")
        .filter(col("u") > col("v"))
        .select(col("u").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val dir = large.select(greatest(col("a"), col("b")).as("v"),
        least(col("a"), col("b")).as("u"))
      val smins = dir.groupBy("v").agg(min("u").as("m"))
      val small = dir.join(smins, "v")
        .select(col("u").as("a"), col("m").as("b"))
        .union(smins.select(col("v").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      val smallCount = small.count()
      converged = smallCount == edgeCount && small.except(edges).isEmpty
      edges = small
      edgeCount = smallCount
      it += 1
    }
    require(converged, s"clustersCarriedCount did not converge in $maxIters rounds")
    val labels = edges.groupBy(col("a").as("doc_id")).agg(min("b").as("lbl"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  def main(args: Array[String]): Unit = {
    val exps = args.headOption.getOrElse("all")
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def want(e: String) = exps == "all" || exps.split(",").contains(e)

    def lineitemEdges(): DataFrame = {
      val lp = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      lp.select(col("ok"), col("pk").as("src"))
        .join(lp.select(col("ok"), col("pk").as("dst")), "ok")
        .filter(col("src") < col("dst")).select("src", "dst")
    }

    def ab(name: String, current: () => DataFrame, variant: () => DataFrame): Unit = {
      // interleave current/variant reps so ambient drift hits both
      val cur = scala.collection.mutable.ListBuffer.empty[Double]
      val vr = scala.collection.mutable.ListBuffer.empty[Double]
      var ch: (Long, Long) = null
      var vh: (Long, Long) = null
      for (_ <- 1 to reps) {
        val (tc, hc) = time(Bench.forcedCountHash(current()))
        val (tv, hv) = time(Bench.forcedCountHash(variant()))
        cur += tc; vr += tv; ch = hc; vh = hv
      }
      println(f"OPT $name current=${cur.min}%.3f variant=${vr.min}%.3f " +
        f"cur_all=${cur.map(t => f"$t%.2f").mkString(",")} var_all=${vr.map(t => f"$t%.2f").mkString(",")} " +
        s"rows=${ch._1} hash_ok=${ch == vh}")
    }

    if (want("kcore")) ab("kcore",
      () => graft.operators.Graph.kCore(lineitemEdges(), k = 80, peels = 8),
      () => kCoreWindowed(lineitemEdges(), k = 80, peels = 8))

    if (want("pagerank")) {
      def edges = {
        val pairs = Tables(spark, sfDir, "lineitem").select(
          concat(lit("p"), col("l_partkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b")).distinct()
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      }
      ab("pagerank",
        () => graft.operators.Graph.pageRank(spark, edges, iterations = 5),
        () => pageRankBcast(spark, edges, iterations = 5))
    }

    // phase:<query> — run one declared query with a job listener that
    // prints per-job wall time + call site, and split construction
    // (eager work inside the query fn) from the final forced action.
    args.headOption.filter(_.startsWith("phase:")).foreach { a =>
      a.stripPrefix("phase:").split(",").foreach { name =>
      val fn = SparkEntry.queries(name)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = scala.collection.mutable.ListBuffer.empty[(Int, Double, String)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(js.jobId, (System.nanoTime(),
            Option(js.properties.getProperty("callSite.short")).getOrElse("?")))
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, site) =>
            done.synchronized {
              done += ((je.jobId, (System.nanoTime() - t0) / 1e9, site))
            }
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      for (r <- 1 to reps) {
        done.synchronized(done.clear())
        val (tc, df) = time(fn(spark, sfDir))
        val (ta, _) = time(Bench.forcedCount(df))
        Thread.sleep(300) // let listener events drain
        println(f"PHASE $name rep=$r construct=$tc%.3f action=$ta%.3f total=${tc + ta}%.3f")
        done.synchronized(done.toList).sortBy(_._1).foreach { case (id, sec, site) =>
          println(f"  job=$id%-4d ${sec}%7.3f s  $site")
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      }
      spark.stop()
      return
    }

    if (want("prefix1")) ab("prefix1",
      () => graft.pipeline.Dedup.prefixFilterPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5),
      () => prefixPairsCkpt(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5))

    if (want("prefix2")) ab("prefix2",
      () => graft.pipeline.Dedup.prefixFilterPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5),
      () => prefixPairsCkpt(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5,
        ckptOrdered = true))

    if (want("ccscale")) {
      val nDocs = 500000L
      val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      def pairs = {
        val cliques = spark.range(5000)
          .select(explode(expr(
            """flatten(transform(sequence(0, 8), i ->
              |  transform(sequence(cast(i as int) + 1, 9), j ->
              |    struct(id * 100 + i * 10 AS a, id * 100 + j * 10 AS b))))"""
              .stripMargin)).as("e"))
          .select(col("e.a"), col("e.b"))
        val chain = spark.range(10000)
          .select((lit(nDocs - 10001) + col("id")).as("a"),
            (lit(nDocs - 10000) + col("id")).as("b"))
        cliques.union(chain)
      }
      ab("ccscale",
        () => clustersCarriedCount(docs, "doc_id", pairs),
        () => graft.pipeline.Dedup.duplicateClusters(docs, "doc_id", pairs))
    }

    if (want("prlocal")) {
      def prEdges = {
        val pairs = Tables(spark, sfDir, "lineitem").select(
          concat(lit("p"), col("l_partkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b")).distinct()
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      }
      ab("prlocal",
        () => graft.operators.Graph.pageRank(spark, prEdges, iterations = 5),
        () => pageRankDriverLoop(spark, prEdges, iterations = 5))
    }

    // current = the PRESERVED explode shape, variant = the applied
    // wide-aggregate form (Dedup.simhash at HEAD)
    if (want("simagg")) ab("simagg",
      () => simhashExplode(
        Tables(spark, sfDir, "documents"), "doc_id", "text", bits = 48),
      () => graft.pipeline.Dedup.simhash(
        Tables(spark, sfDir, "documents"), "doc_id", "text", bits = 48))

    if (want("simagg60")) ab("simagg60",
      () => simhashExplode(
        Tables(spark, sfDir, "documents"), "doc_id", "text", bits = 60),
      () => graft.pipeline.Dedup.simhash(
        Tables(spark, sfDir, "documents"), "doc_id", "text", bits = 60))

    // current = the PRESERVED r19 wedge shape, variant = the applied
    // r20 intersect shape (Graph.clusteringCoeff at HEAD) — a standing
    // old-vs-new A/B now that the intersect form is the operator
    if (want("triint")) ab("triint",
      () => clusteringCoeffWedgeExplode(
        graft.operators.Graph.coOccurrenceEdges(
          Tables(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey")),
      () => graft.operators.Graph.clusteringCoeff(
        graft.operators.Graph.coOccurrenceEdges(
          Tables(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey")))

    if (want("triedge")) ab("triedge",
      () => {
        val lp = Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val e = lp.select(col("ok"), col("pk").as("src"))
          .join(lp.select(col("ok"), col("pk").as("dst")), "ok")
          .filter(col("src") < col("dst")).select("src", "dst")
        graft.operators.Graph.clusteringCoeff(e)
      },
      () => graft.operators.Graph.clusteringCoeff(
        pairsByGroup(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey")))

    if (want("kcoreedge")) ab("kcoreedge",
      () => {
        val lp = Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val e = lp.select(col("ok"), col("pk").as("src"))
          .join(lp.select(col("ok"), col("pk").as("dst")), "ok")
          .filter(col("src") < col("dst")).select("src", "dst")
        graft.operators.Graph.kCore(e, k = 80, peels = 8)
      },
      () => graft.operators.Graph.kCore(
        pairsByGroup(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey"),
        k = 80, peels = 8))

    if (want("cosdedup")) {
      def arts() = {
        val path = "/tmp/graft_cosdedup_" + sfDir.stripSuffix("/").replaceAll("[^a-zA-Z0-9]", "_")
        val vectors = spark.read.parquet(s"$path/vectors")
        val centroids = spark.read.parquet(s"$path/centroids")
          .orderBy("code").collect()
          .flatMap(_.getAs[scala.collection.Seq[Float]]("centroid"))
        (vectors, centroids)
      }
      ab("cosdedup",
        () => {
          val (v, c) = arts()
          graft.pipeline.Similarity.cosineDedupPairsWith(spark, v, c,
              singleAssign = None, dim = 64, minCosine = 0.95, probes = 2)
            .select(col("a"), col("b"), round(col("cosine"), 5).as("cosine"))
        },
        () => {
          val (v, c) = arts()
          cosineDedupPairsLight(spark, v, c, dim = 64, minCosine = 0.95, probes = 2)
            .select(col("a"), col("b"), round(col("cosine"), 5).as("cosine"))
        })
    }

    if (want("kcore2")) ab("kcore2",
      () => graft.operators.Graph.kCore(
        graft.operators.Graph.coOccurrenceEdges(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey"),
        k = 80, peels = 8),
      () => kCoreStride2(
        graft.operators.Graph.coOccurrenceEdges(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey"),
        k = 80, peels = 8))

    if (want("popneg")) {
      def inter0() = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
        .hint("merge")
        .join(Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      ab("popneg",
        () => graft.pipeline.Similarity.popularityNegatives(
          inter0(), "o_custkey", "l_partkey", k = 5),
        () => graft.pipeline.Similarity.popularityNegatives(
          inter0().localCheckpoint(), "o_custkey", "l_partkey", k = 5))
    }

    if (want("negsample")) {
      def inter1() = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
        .hint("merge")
        .join(Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      val nItems = Tables(spark, sfDir, "part").count()
      ab("negsample",
        () => graft.pipeline.Similarity.uniformNegatives(
          inter1(), "o_custkey", "l_partkey", nItems, k = 5, idBase = 1L),
        () => graft.pipeline.Similarity.uniformNegatives(
          inter1().localCheckpoint(), "o_custkey", "l_partkey", nItems, k = 5, idBase = 1L))
    }

    if (want("tfidf")) {
      def tfidfQ(ckpt: Boolean) = {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(spark, sfDir, "documents")
        val nDocs = docs.count()
        val post0 = graft.fts.Fts.buildPostings(docs, "doc_id", "text")
        val post = if (ckpt) post0.localCheckpoint() else post0
        val dfTbl = post.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score_micro").desc, col("term"))
        post.join(dfTbl, "term")
          .withColumn("score_micro", col("tf") *
            expr(s"CAST(round(ln(($nDocs + 1.0) / (df + 1.0)) * 1000000) AS BIGINT)"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("doc_id", "rank", "term", "score_micro")
      }
      ab("tfidf", () => tfidfQ(false), () => tfidfQ(true))
    }

    if (want("repetition")) {
      def repQ(ckpt: Boolean) = {
        val docs = Tables(spark, sfDir, "documents")
        val w0 = docs.select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
        val w = if (ckpt) w0.localCheckpoint() else w0
        def grams(n: Int): DataFrame =
          if (n == 1)
            w.select(col("doc_id"), lit(1).as("n"), explode(col("ws")).as("t"))
              .select(col("doc_id"), col("n"), xxhash64(col("t")).as("gram"))
          else
            w.select(col("doc_id"), lit(n).as("n"),
                explode(graft.pipeline.NGrams.zipExpr("ws", n)).as("pr"))
              .select(col("doc_id"), col("n"),
                xxhash64(graft.pipeline.NGrams.fields("pr", n): _*).as("gram"))
        val g = (1 to 3).map(grams).reduce(_ unionAll _)
        val agg = g.groupBy("doc_id", "n", "gram").count()
          .groupBy("doc_id", "n")
          .agg(max("count").as("maxc"), sum("count").as("tot"),
            count(lit(1)).as("ndist"))
        def pick(n: Int, c: String) = max(when(col("n") === n, col(c)))
        val piv = agg.groupBy("doc_id").agg(
          pick(1, "maxc").as("maxc1"), pick(1, "tot").as("tot1"), pick(1, "ndist").as("ndist1"),
          pick(2, "maxc").as("maxc2"), pick(2, "tot").as("tot2"),
          pick(3, "maxc").as("maxc3"), pick(3, "tot").as("tot3"))
        docs.select(col("doc_id")).join(piv, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            round(coalesce(lit(1.0) - col("ndist1") / col("tot1"), lit(0.0)), 4)
              .as("dup_word_frac"),
            round(coalesce(col("maxc1") / col("tot1"), lit(0.0)), 4).as("top_word_frac"),
            round(coalesce(col("maxc2") / col("tot2"), lit(0.0)), 4).as("top_bigram_frac"),
            round(coalesce(col("maxc3") / col("tot3"), lit(0.0)), 4).as("top_trigram_frac"))
      }
      ab("repetition", () => repQ(false), () => repQ(true))
    }

    if (want("dupspans")) ab("dupspans",
      () => graft.pipeline.Dedup.duplicateSpans(
        Tables(spark, sfDir, "documents"), "doc_id", "text", windowTokens = 15),
      () => {
        // variant: window-hash table checkpointed (feeds the cross-doc
        // df rollup + the semi-join probe)
        import org.apache.spark.sql.expressions.Window
        import graft.pipeline.NGrams
        val L = 15
        val w = Tables(spark, sfDir, "documents")
          .select(col("doc_id"),
            expr(s"regexp_extract_all(lower(`text`), '[a-z0-9]+', 0)").as("toks"))
          .select(col("doc_id"), posexplode(NGrams.zipExpr("toks", L)).as(Seq("pos", "pr")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            xxhash64(NGrams.fields("pr", L): _*).as("g"))
          .localCheckpoint()
        val crossDoc = w.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2)
          .select("g")
        val dup = w.join(crossDoc, Seq("g"), "left_semi")
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
        dup
          .withColumn("prev", lag("pos", 1).over(byDoc))
          .withColumn("brk",
            when(col("prev").isNull || col("pos") > col("prev") + L, 1).otherwise(0))
          .withColumn("island",
            sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "island")
          .agg(min("pos").as("start_pos"),
            (max("pos") + L).as("end_pos"),
            count(lit(1)).as("n_windows"))
          .select("doc_id", "start_pos", "end_pos", "n_windows")
      })

    if (want("simhash")) ab("simhash",
      () => graft.pipeline.Dedup.simhashDedupPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text"),
      () => {
        // variant: fingerprint table checkpointed (feeds the block
        // tables + both verification joins)
        import graft.pipeline.Dedup
        val docs = Tables(spark, sfDir, "documents")
        val bits = 60; val nBlocks = 6; val maxHamming = 3; val maxBucketSize = 1000
        val bw = bits / nBlocks
        val comboSize = nBlocks - maxHamming
        val combos = (0 until nBlocks).combinations(comboSize).toSeq
        val fp = Dedup.simhash(docs, "doc_id", "text", bits).localCheckpoint()
        def bval(b: Int) = s"((simhash div shiftleft(1L, ${b * bw})) % shiftleft(1L, $bw))"
        val keyStructs = combos.zipWithIndex.map { case (cs, tid) =>
          val key = cs.zipWithIndex.map { case (b, j) =>
            s"${bval(b)} * shiftleft(1L, ${(comboSize - 1 - j) * bw})"
          }.mkString(" + ")
          s"struct(${tid}L AS tid, $key AS bval)"
        }
        val tables = fp
          .select(col("doc_id"), col("simhash"),
            explode(expr(s"array(${keyStructs.mkString(", ")})")).as("e"))
          .select(col("doc_id"), col("e.tid").as("tid"), col("e.bval").as("bval"))
        val ok = tables.groupBy("tid", "bval").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize && col("_n") >= 2)
          .select("tid", "bval")
        val pairs = tables.join(ok, Seq("tid", "bval"), "left_semi")
          .groupBy("tid", "bval")
          .agg(collect_list("doc_id").as("ids"))
          .select(array_sort(col("ids")).as("sids"))
          .select(explode(expr(
            "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
          .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
          .distinct()
        pairs
          .join(fp.select(col("doc_id").as("a"), col("simhash").as("fa")), "a")
          .join(fp.select(col("doc_id").as("b"), col("simhash").as("fb")), "b")
          .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
          .filter(col("hamming") <= maxHamming)
          .select("a", "b", "hamming")
      })

    if (want("fuzzy")) {
      def fuzzyToks() = {
        val toks = Tables(spark, sfDir, "documents")
          .select(expr("substring(md5(CAST(doc_id AS STRING)), 1, 7)").as("tok"))
          .distinct()
        val typos = toks
          .filter(expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 4 = 0"))
          .select(concat(expr("substring(tok, 1, 2)"), lit("q"),
            expr("substring(tok, 4, length(tok))")).as("tok"))
        toks.unionAll(typos)
      }
      ab("fuzzy",
        () => graft.pipeline.Fuzzy.ed1Pairs(fuzzyToks(), "tok"),
        () => ed1PairsExplode(fuzzyToks(), "tok"))
    }

    if (want("incr")) ab("incr",
      () => {
        val d = Tables(spark, sfDir, "documents")
        graft.pipeline.Dedup.incrementalDedupPairs(
          d.filter(col("doc_id") % 10 < 8), d.filter(col("doc_id") % 10 >= 8),
          "doc_id", "text", 3, 16, 4, 0.5)
          .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      },
      () => {
        val d = Tables(spark, sfDir, "documents")
        incrDedupCkpt(
          d.filter(col("doc_id") % 10 < 8), d.filter(col("doc_id") % 10 >= 8),
          "doc_id", "text", 3, 16, 4, 0.5)
          .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      })

    if (want("semdedup")) {
      def arts2() = {
        val path = "/tmp/graft_cosdedup_" + sfDir.stripSuffix("/").replaceAll("[^a-zA-Z0-9]", "_")
        val vectors = spark.read.parquet(s"$path/vectors")
        val centroids = spark.read.parquet(s"$path/centroids")
          .orderBy("code").collect()
          .flatMap(_.getAs[scala.collection.Seq[Float]]("centroid"))
        (vectors, centroids)
      }
      ab("semdedup",
        () => {
          val (v, c) = arts2()
          graft.pipeline.Similarity.semDedup(spark, v, c, dim = 64, tau = 0.95)
        },
        () => {
          val (v, c) = arts2()
          semDedupLight(spark, v, c, dim = 64, tau = 0.95)
        })
    }

    if (want("wedge")) ab("wedge",
      () => graft.operators.Graph.clusteringCoeff(
        graft.operators.Graph.coOccurrenceEdges(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey")),
      () => clusteringCoeffWedgeExplode(
        graft.operators.Graph.coOccurrenceEdges(Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey")))

    if (want("lsh")) ab("lsh",
      () => graft.pipeline.Dedup.minhashDedupPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5),
      () => minhashPairsCkpt(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5))

    if (want("ngram")) ab("ngram",
      () => graft.pipeline.Dedup.ngramJaccardPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5),
      () => ngramPairsCkpt(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5))

    if (want("clusters")) ab("clusters",
      () => {
        val docs = Tables(spark, sfDir, "documents")
        graft.pipeline.Dedup.duplicateClusters(docs, "doc_id",
          graft.pipeline.Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5))
      },
      () => {
        val docs = Tables(spark, sfDir, "documents")
        clustersBcast(docs, "doc_id",
          graft.pipeline.Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5))
      })

    if (want("jacng")) ab("jacng",
      () => graft.pipeline.Dedup.ngramJaccardPairs(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")),
      () => ngramPairsArrVerify(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))

    if (want("jaclsh")) ab("jaclsh",
      () => graft.pipeline.Dedup.minhashDedupPairs(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")),
      () => minhashPairsArrVerify(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))

    // ×100 control arms: APPLIED array verify (current) vs the r1-r19
    // join-form verify (variant) — run with
    // SPARK_GRAFT_SF_DIR=/tmp/graft_scale_x100 for the scale record
    if (want("jacng100")) ab("jacng100",
      () => graft.pipeline.Dedup.ngramJaccardPairs(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")),
      () => ngramPairsJoinVerify(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 20, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))

    if (want("jaclsh100")) ab("jaclsh100",
      () => graft.pipeline.Dedup.minhashDedupPairs(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")),
      () => minhashPairsJoinVerify(
          Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 16, 4, 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))

    if (want("c4clean")) ab("c4clean",
      () => graft.pipeline.Boilerplate.c4Clean(
          c4LinedInput(Tables(spark, sfDir, "documents")), "doc_id", "text2")
        .select(col("doc_id"), md5(col("clean_text")).as("md5_clean"),
          length(col("clean_text")).cast("long").as("n_clean_chars"),
          col("n_lines"), col("n_kept"), col("n_dropped_rule"),
          col("n_dropped_boiler"), col("page_pass")),
      () => c4CleanCkpt(
          c4LinedInput(Tables(spark, sfDir, "documents")), "doc_id", "text2")
        .select(col("doc_id"), md5(col("clean_text")).as("md5_clean"),
          length(col("clean_text")).cast("long").as("n_clean_chars"),
          col("n_lines"), col("n_kept"), col("n_dropped_rule"),
          col("n_dropped_boiler"), col("page_pass")))

    if (want("fuzzy2")) {
      def fuzzyToks2() = {
        val toks = Tables(spark, sfDir, "documents")
          .select(expr("substring(md5(CAST(doc_id AS STRING)), 1, 7)").as("tok"))
          .distinct()
        val typos = toks
          .filter(expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 4 = 0"))
          .select(concat(expr("substring(tok, 1, 2)"), lit("q"),
            expr("substring(tok, 4, length(tok))")).as("tok"))
        toks.unionAll(typos)
      }
      ab("fuzzy2",
        () => graft.pipeline.Fuzzy.ed1Pairs(fuzzyToks2(), "tok"),
        () => ed1PairsOccGuard(fuzzyToks2(), "tok"))
    }

    if (want("fuzzy3")) {
      def fuzzyToks3() = {
        val toks = Tables(spark, sfDir, "documents")
          .select(expr("substring(md5(CAST(doc_id AS STRING)), 1, 7)").as("tok"))
          .distinct()
        val typos = toks
          .filter(expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 4 = 0"))
          .select(concat(expr("substring(tok, 1, 2)"), lit("q"),
            expr("substring(tok, 4, length(tok))")).as("tok"))
        toks.unionAll(typos)
      }
      ab("fuzzy3",
        () => graft.pipeline.Fuzzy.ed1Pairs(fuzzyToks3(), "tok"),
        () => ed1PairsWindowGuard(fuzzyToks3(), "tok"))
    }

    if (want("clusters2")) ab("clusters2",
      () => {
        val docs = Tables(spark, sfDir, "documents")
        graft.pipeline.Dedup.duplicateClusters(docs, "doc_id",
          graft.pipeline.Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5))
      },
      () => {
        val docs = Tables(spark, sfDir, "documents")
        clustersCarriedCount(docs, "doc_id",
          graft.pipeline.Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5))
      })

    if (want("prefixv")) ab("prefixv",
      () => graft.pipeline.Dedup.prefixFilterPairs(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5),
      () => prefixPairsArrVerify(
        Tables(spark, sfDir, "documents"), "doc_id", "text", 3, 0.5))

    if (want("mcreate")) {
      def batches() = {
        val c = Tables(spark, sfDir, "customer")
        val batch1 = c.filter(col("c_custkey") < 750)
          .select(col("c_custkey").as("order"),
            to_json(struct(col("c_custkey"), col("c_name"), col("c_acctbal"),
              (col("c_acctbal") > 0).as("active"))).as("json"))
        val batch2 = c.filter(col("c_custkey") >= 750)
          .select(col("c_custkey").as("order"),
            to_json(struct(col("c_custkey"), col("c_name"), col("c_acctbal"),
              (col("c_acctbal") > 0).as("active"), col("c_mktsegment"),
              array(col("c_mktsegment")).as("tags"))).as("json"))
        (batch1, batch2)
      }
      def out(appended: DataFrame) = {
        val withEvolved = Seq("c_mktsegment", "tags").foldLeft(appended) { (df, c) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string"))
        }
        withEvolved.select("_subset_", "c_custkey", "c_name", "c_acctbal",
          "active", "c_mktsegment", "tags")
      }
      ab("mcreate",
        () => {
          val (b1, b2) = batches()
          val base = graft.meta.JsonMeta.create(spark, b1)
          out(graft.meta.JsonMeta.append(spark, base, b2))
        },
        () => {
          val (b1, b2) = batches()
          val base = graft.meta.JsonMeta.create(spark, b1)
          out(jsonAppendCkpt(spark, base, b2))
        })
    }

    if (want("assoc")) ab("assoc",
      () => graft.operators.Assoc.rules(
        Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
        "basket", "item", minPairCount = 2L, maxBasketSize = 8),
      () => assocRulesShared(
        Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
        "basket", "item", minPairCount = 2L, maxBasketSize = 8))

    if (want("assoc2")) ab("assoc2",
      () => graft.operators.Assoc.rules(
        Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
        "basket", "item", minPairCount = 2L, maxBasketSize = 8),
      () => assocRulesZip(
        Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
        "basket", "item", minPairCount = 2L, maxBasketSize = 8))

    spark.stop()
  }
}
