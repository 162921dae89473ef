package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * These are greenfield additions over the reference engine (SURVEY §2.9 /
  * §7 step 7): exact dedup, MinHash+LSH near-dedup, SimHash, and n-gram
  * Jaccard similarity join. Design rules for 100 TB:
  *
  *  - candidate generation is ALWAYS a bucketed equi-join (band hash or
  *    shared rare shingle) — never an all-pairs crossJoin;
  *  - every hash is a pure builtin-function expression
  *    (md5/conv/substr — whole-stage codegen, no UDFs), so the DuckDB
  *    oracle can replay the exact same bytes;
  *  - heavy explodes (doc × shingle × permutation) flow through partial
  *    (map-side) aggregation before any shuffle, so shuffled volume is
  *    docs × numPerm, not tokens × numPerm.
  */
object Dedup {

  /** 60-bit deterministic hash: first 15 hex chars of md5(s + "#" + salt).
    * Fits a positive BIGINT on both Spark and DuckDB
    * (`('0x' || substr(md5(..),1,15))::BIGINT`). */
  def hash60(c: Column, salt: Column): Column =
    conv(substring(md5(concat(c, lit("#"), salt.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Canonical text normalization for exact dedup: lowercase, trim,
    * collapse whitespace runs. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact dedup: group by normalized-text hash, keep the smallest doc id
    * per group. One shuffle (groupBy hash) with map-side combine. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), md5(normText(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))

  /** Distinct word `n`-gram shingles per doc as 60-bit md5 numbers:
    * `(doc_id, sh: long)` where `sh = hash60(gram, 0)`. Hashing BEFORE
    * the distinct means every downstream shuffle (the distinct itself,
    * the Jaccard intersection joins, the df counts) moves 8-byte longs
    * instead of ~20-byte gram strings — measured 2× on the distinct at
    * the ×100 corpus (DedupStageProbe at 84d355f, 26M shingles: 7.3 s
    * vs 14.7 s)
    * with zero oracle drift (DuckDB replays the same
    * `('0x'||substr(md5(gram||'#0'),1,15))::BIGINT`, so any hash
    * collision affects both engines identically). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)").as("toks"))
    // zip-of-slices explode, NOT transform(sequence(...)): the lambda
    // body would run interpreted (NGrams.scala) — gram strings identical
    val grams =
      if (n == 1) toks.select(col("doc_id"), explode(col("toks")).as("gram"))
      else toks
        .select(col("doc_id"), explode(NGrams.zipExpr("toks", n)).as("pr"))
        .select(col("doc_id"), concat_ws(" ", NGrams.fields("pr", n): _*).as("gram"))
    grams
      .select(col("doc_id"), hash60(col("gram"), lit(0)).as("sh"))
      .distinct()
  }

  /** Prime modulus for the universal-hash permutation family. */
  val MinhashP = 2147483647L // 2^31 - 1

  /** 60-bit md5-prefix hash of a string, computed driver-side — the
    * byte-identical Scala twin of the SQL
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`. */
  private[pipeline] def md5num(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Universal-hash constants for permutation i: a_i ∈ [1, P−1],
    * b_i ∈ [0, P−1], both derived from md5 so the DuckDB oracle
    * regenerates them from the same formula. */
  private[pipeline] def permConsts(numPerm: Int): (Seq[Long], Seq[Long]) = (
    (0 until numPerm).map(i => md5num(s"mh_a$i") % (MinhashP - 1) + 1),
    (0 until numPerm).map(i => md5num(s"mh_b$i") % MinhashP)
  )

  /** MinHash signatures `(doc_id, perm, minhash)`: the shingle hash is
    * reduced mod P, then permutation i applies the universal hash
    * `(a_i·h + b_i) mod P` — arithmetic instead of numPerm md5 rounds
    * over every shingle (a 16× hash-count cliff at scale). All numPerm
    * mins are computed in ONE wide groupBy(doc_id) — numPerm `min`
    * aggregation buffers over the shingle rows — then unpacked to the
    * (doc_id, perm, minhash) shape by a posexplode of the per-doc
    * result array. That keeps the aggregated row count at
    * docs×shingles instead of the docs×shingles×numPerm explode of the
    * first formulation (measured 2.4× at the ×100 corpus: 13.0 s vs
    * 30.8 s same-JVM, DedupStageProbe G vs G2 at 84d355f; identical
    * values). */
  def minhashSignatures(sh: DataFrame, numPerm: Int): DataFrame = {
    val (as, bs) = permConsts(numPerm)
    val aggs = (0 until numPerm).map(p =>
      min(expr(s"(${as(p)}L * base + ${bs(p)}L) % $MinhashP")).as(s"h$p"))
    sh
      .withColumn("base", pmod(col("sh"), lit(MinhashP)))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numPerm).map(i => col(s"h$i")): _*)))
      .withColumnRenamed("pos", "perm")
      .withColumnRenamed("col", "minhash")
  }

  /** LSH banding: `(doc_id, band, band_sig)` — band_sig is the 60-bit
    * md5 number of the comma-joined signature rows of that band (perm
    * order). Docs agreeing on any full band collide in that band's
    * bucket. A long bucket key shuffles/hashes ~4× cheaper than the
    * 32-char md5 hex string it replaces; DuckDB replays it exactly. */
  def lshBands(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band", expr(s"perm div $rowsPerBand"))
      .groupBy("doc_id", "band")
      .agg(hash60(concat_ws(",",
        expr("transform(array_sort(collect_list(struct(perm, minhash))), x -> cast(x.minhash AS string))")
      ), lit(0)).as("band_sig"))

  /** Candidate pairs from band-bucket collisions: a self equi-join on
    * (band, band_sig) — the shuffle key is the bucket, so only docs
    * sharing a bucket ever meet. Buckets above `maxBucketSize` are
    * dropped (skew guard: a degenerate hot bucket — e.g. thousands of
    * byte-identical docs, which exact dedup removes anyway — would
    * otherwise go quadratic in the self-join). */
  def candidatePairs(bands: DataFrame, maxBucketSize: Int = 10000): DataFrame = {
    val ok = bands.groupBy("band", "band_sig")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucketSize && col("_n") >= 2)
      .select("band", "band_sig")
    // collect each surviving bucket and emit its pairs by a double
    // explode (outer row keeps the ≤cap id array, inner explode streams
    // the partners) — replaces the bucket SELF-JOIN of the first
    // formulation, measured 2.6× faster at the ×100 corpus (22.5 s vs
    // 58.8 s, DedupStageProbe B vs C at 84d355f) because the bands relation is
    // exchanged once and never hash-probed against itself. The count
    // prepass (semi-join on the same, reused exchange) still runs FIRST
    // so a degenerate hot bucket is dropped before collect_list ever
    // materializes it — the skew guard stays allocation-free.
    bands.join(ok, Seq("band", "band_sig"), "left_semi")
      .groupBy("band", "band_sig")
      .agg(collect_list("doc_id").as("ids"))
      .select(array_sort(col("ids")).as("sids"))
      .select(explode(expr(
        "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
      .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
      .distinct()
  }

  /** Exact Jaccard over shingle sets for given pairs:
    * `|A ∩ B| / (|A| + |B| − |A ∩ B|)`.
    *
    * INPUT CONTRACT: `sh` rows must be distinct on `(doc_id, sh)`, as
    * [[shingles]] emits them. `array_intersect` de-duplicates, but the
    * set sizes are `count(lit(1))` of rows, so a duplicated row inflates
    * `|A|` and yields a wrong Jaccard with no error
    * (DedupProperties pins the contract against a brute-force Jaccard).
    *
    * Shape (r20): each endpoint doc's (distinct) shingle set is
    * collected into ONE array row, both arrays attach to the candidate
    * pairs by two doc_id-keyed joins, and the intersection is
    * `size(array_intersect(sa, sb))` in the projection (codegen'd
    * collection expression). vs the r1-r19 join-based verify (pairs ⋈
    * sh on a, re-shuffled on (b, sh), then a groupBy(a,b) count): the
    * Σ|A|-per-pair intersection rows never exist, the (b, sh) exchange
    * and the pair-count aggregation disappear, the per-doc sizes ride
    * the same array rows (size = n, sh is distinct per doc), and both
    * attach joins exchange the SAME set-table subtree so ReuseExchange
    * materializes it once. Interleaved A/Bs at sf0.1 (hash-identical):
    * `jacng` (n-gram path) 4.40 → 3.19 s warm, wins all 4 reps
    * (14.3 → 6.7 cold); `jaclsh` (LSH path) wins all 4 reps pairwise,
    * warm wash (1.53/1.52). Per-row memory is bounded by one doc's
    * set (8 B/shingle), the same bound the collect-based candidate
    * generation already carries.
    *
    * Historical negatives that still hold against the OLD form and were
    * not retried (r17, measured): pre-restricting `sh` to pair
    * endpoints via semi-join (+10%), caching intermediates (+50%,
    * InMemoryRelation breaks exchange reuse), duplicate-tolerant
    * shingles with countDistinct (+40%). */
  def jaccardVerify(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(collect_list("sh").as("ss"), count(lit(1)).as("n"))
    pairs
      .join(sets.select(col("doc_id").as("a"), col("ss").as("sa"),
        col("n").as("na")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ss").as("sb"),
        col("n").as("nb")), "b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select("a", "b", "jaccard")
  }

  /** Full MinHash-LSH near-dedup: shingle → sign → band → bucket join →
    * exact-Jaccard verify → threshold. */
  def minhashDedupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleSize)
    val pairs = candidatePairs(lshBands(minhashSignatures(sh, numPerm), rowsPerBand))
    jaccardVerify(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** SimHash fingerprint over unigram term frequencies, `bits` wide
    * (≤ 62 to stay in a signed BIGINT). Bit b of term-hash contributes
    * +tf / −tf to component b; the fingerprint sets bits with a positive
    * component sum.
    *
    * The component sums run as `bits` conditional sum-aggregates inside
    * ONE hash aggregate over the (doc, term, tf) table (r20) — the
    * former doc×term×bit explode multiplied every row `bits`-fold
    * before its map-side reduce; here the same ±tf arithmetic per bit
    * is a codegen'd CASE in the aggregate update, the per-group state
    * is `bits` longs, and one row per doc (not `bits` rows) crosses the
    * exchange. Interleaved A/B (OPTIMIZATION_r20 `simagg`/`simagg60`, 4 reps
    * each, hash-identical): wins 8/8, ~2.0 → 1.4 s warm, 9.4 → 3.9 s
    * cold at sf0.1. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 48): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", hash60(col("term"), lit(0)))
    val comps = (0 until bits).map(b =>
      sum(expr(s"IF((h div shiftleft(1L, $b)) % 2 = 1, tf, -tf)")).as(s"_s$b"))
    val fp = (0 until bits).map(b =>
      when(col(s"_s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    tf.groupBy("doc_id").agg(comps.head, comps.drop(1): _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dedup in hamming space (Manku et al. 2007, "Detecting
    * Near-Duplicates for Web Crawling", §3's block-permutation tables):
    * the fingerprint splits into `nBlocks` contiguous blocks and each
    * doc enters one table per COMBINATION of `nBlocks − maxHamming`
    * blocks, keyed by those blocks' concatenated values. At most
    * `maxHamming` bit flips touch at most `maxHamming` blocks, so some
    * combination of `nBlocks − maxHamming` blocks is flip-free — a pair
    * within the hamming radius MUST collide in that table (pigeonhole:
    * zero false negatives), then exact `bit_count(xor)` verifies.
    * Complements the MinHash-LSH chain: simhash responds to weighted
    * term-frequency drift where shingle Jaccard responds to phrasing
    * overlap.
    *
    * Scale sizing (documented, not hidden): the table key is
    * `(nBlocks − maxHamming) · bits/nBlocks` bits wide and expected
    * occupancy is `N / 2^keyBits` — the defaults (60-bit fingerprint,
    * 6 blocks → C(6,3)=20 tables keyed on 30 bits) hold past 10^8 docs
    * even on bit-skewed corpora, at 20 bucket rows per doc. The first
    * formulation here keyed single 15-bit blocks (4 tables) and
    * melted at the ×100 corpus — uniform-vocab word salads concentrate
    * simhash bits, popular block values went quadratic (measured: a
    * >1 GB candidate broadcast). The `maxBucketSize` guard (1000,
    * tighter than the LSH chain's md5-diffuse buckets need) remains
    * the explicit skew contract for byte-identical fingerprint floods
    * that survive even 30-bit keys. */
  def simhashDedupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, nBlocks: Int = 6, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming < nBlocks,
      s"pigeonhole guarantee needs maxHamming < nBlocks (got $maxHamming >= $nBlocks)")
    require(bits % nBlocks == 0, s"bits ($bits) must divide into $nBlocks blocks")
    val bw = bits / nBlocks
    val comboSize = nBlocks - maxHamming
    val combos = (0 until nBlocks).combinations(comboSize).toSeq
    // fp (a 3-aggregation chain over the doc x term x bit explode)
    // feeds the block tables AND both verification joins with
    // non-identical exchanges — checkpoint so it computes once (r19
    // A/B `simhash`: wins every rep, ~16% warm, 11.4s->4.8s cold,
    // hash-identical)
    val fp = simhash(docs, idCol, textCol, bits).localCheckpoint()
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
  }

  /** n-gram Jaccard similarity join without LSH: candidates are doc pairs
    * sharing at least one *rare* shingle (document frequency ≤
    * `maxShingleDf` — the frequent-shingle cap is the scale guard that
    * keeps the self-join from going quadratic on stop-shingles), then
    * exact Jaccard over the full shingle sets. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, maxShingleDf: Int = 20,
      minJaccard: Double = 0.5, minSharedRare: Int = 2): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleSize)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf && col("df") >= 2)
      .select("sh")
    val rareSh = sh.join(rare, "sh")
    // candidates must share ≥ minSharedRare rare shingles: one shared
    // shingle admits far too many incidental pairs at scale (a 4×
    // wall-clock cliff at sf0.1), while true near-dups share dozens.
    // Pairs per rare shingle come from collect+double-explode rather
    // than a bucket self-join (the candidatePairs pattern — 1.7×
    // measured at ×100, DedupStageProbe H2 vs H1 at 84d355f); the
    // collected array is bounded by maxShingleDf, so no buffer-size
    // guard is needed.
    val pairs = rareSh.groupBy("sh")
      .agg(array_sort(collect_list("doc_id")).as("sids"))
      .select(explode(expr(
        "transform(sequence(0, size(sids) - 2), i -> struct(sids[i] AS x, slice(sids, i + 2, size(sids)) AS rest))")).as("e"))
      .select(col("e.x").as("a"), explode(col("e.rest")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minSharedRare)
      .select("a", "b")
    jaccardVerify(pairs, sh).filter(col("jaccard") >= minJaccard)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08, both public): all pairs of docs whose `shingleSize`-gram
    * SET Jaccard is ≥ `minJaccard` — the same similarity space as the
    * LSH paths ([[minhashDedupPairs]], [[ngramJaccardPairs]]) but with
    * a no-false-negative guarantee they trade away.
    *
    * The pruning theorem: order every doc's distinct tokens by a single
    * global total order (ascending document frequency — rarest first —
    * then token text); if `J(a,b) ≥ t` then `|a∩b| ≥ ceil(t·|d|)` for
    * each endpoint, and by pigeonhole the intersection must touch the
    * first `|d| − ceil(t·|d|) + 1` tokens (the PREFIX) of BOTH docs —
    * so the equi-join of prefixes on the token generates every
    * qualifying pair. The df-ascending order is what keeps the join
    * sparse: prefixes hold each doc's RAREST tokens, so bucket sizes
    * are bounded by (small) token dfs, not corpus size — stop-words
    * never enter a prefix unless a doc is almost all stop-words. A
    * size-ratio filter (`t·|b| ≤ |a|`, symmetric) prunes candidates
    * whose lengths alone cap Jaccard below t.
    *
    * Two further PPJoin cuts (Xiao et al. WWW'08 §3; added r17 — the
    * exact path ran 15× its LSH sibling at ×100 because the verify
    * join saw every prefix-collision pair):
    *   - INDEX PREFIX: order each pair by (size, id); the smaller doc
    *     only needs its first `|x| − ceil(2t/(1+t)·|x|) + 1` tokens in
    *     the join (the required overlap α = t/(1+t)·(|x|+|y|) is
    *     ≥ 2t/(1+t)·|x| once |y| ≥ |x|, and the O-smallest shared
    *     token sits within `|x| − α + 1` of x) — at t = 0.5 that is a
    *     ~⅓ prefix instead of ~½, quadratically fewer collisions;
    *   - POSITIONAL filter: for a candidate pair, every shared token
    *     NOT matched prefix-to-prefix is O-after the last prefix match
    *     in BOTH docs (if it were O-before, consistent ordering would
    *     place it inside both prefixes — i.e. it would be a match), so
    *     `|a∩b| ≤ m + min(|x|−p_x, |y|−p_y)` with m = prefix matches
    *     and (p_x, p_y) the last match's positions; pairs whose bound
    *     is below ceil(t/(1+t)·(|x|+|y|)) never reach the verify join.
    *     Float guard: the α comparisons subtract 1e-6 before ceil so a
    *     representation error can only WEAKEN pruning, never drop a
    *     true pair (the verify join stays the exactness authority).
    *
    * Shape: distinct-shingle explode, one df rollup, per-doc window rank
    * (bounded by doc length), index-prefix × probe-prefix equi-join on
    * the shingle, per-pair positional-bound aggregate,
    * exact-intersection verify (the [[jaccardVerify]] ReuseExchange
    * shape). Output is all-integer (`jaccard_bp` = floor(J·10000)), so
    * the SQL oracle replays membership bit-for-bit.
    *
    * INPUT CONTRACT (internal, the same as [[jaccardVerify]]'s): the
    * token table is [[shingles]], distinct on `(doc_id, sh)`. The sizes
    * `sz`, `n_a`, `n_b` and the positional bound count its rows, so a
    * token table with duplicated rows would give wrong sizes and a
    * wrong `jaccard_bp` with no error. */
  def prefixFilterPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, s"minJaccard in (0,1], got $minJaccard")
    import org.apache.spark.sql.expressions.Window
    // toks feeds FIVE consumers with non-identical exchange subtrees
    // (df rollup, the ordered join, sizes, both verify joins) —
    // ReuseExchange can't dedupe them, so without a barrier the
    // tokenize+explode+hash pipeline re-runs per consumer (the r19
    // before-plan showed 8 parquet scans). localCheckpoint materializes
    // the shingle table once; same for `ordered`, whose probe/index
    // legs differ only in the filter threshold and otherwise re-derive
    // the df join + both windows twice each. Interleaved A/B at sf0.1
    // (OPTIMIZATION_r19 prefix1/prefix2, hash-identical): ~10% per barrier.
    val toks = shingles(docs, idCol, textCol, shingleSize)
      .select(col("doc_id"), col("sh").as("tok")).localCheckpoint()
    val dfTbl = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    val wPos = Window.partitionBy("doc_id").orderBy(col("tdf"), col("tok"))
    val wSz = Window.partitionBy("doc_id")
    // deterministic: tok is distinct per doc, so (tdf, tok) is a total
    // order and row_number is reproducible — checkpoint-safe
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
      // (size, id)-lexicographic orientation: the indexed side is the
      // smaller doc, which is what licenses its shorter prefix
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
    // exact verify in the r20 array-intersect shape (the jaccardVerify
    // restructure): per-doc token arrays collect once from the
    // already-checkpointed `toks`, attach to the candidates by two
    // doc_id-keyed joins over the SAME set-table subtree (one exchange,
    // ReuseExchange), and the intersection computes in the projection —
    // the (b, tok) re-shuffle of one row per shared token, the
    // pair-count aggregate and the two size joins all disappear.
    // Per-row memory is one doc's token set, the bound the collect-
    // based candidate generation already carries elsewhere. Interleaved
    // A/B (OPTIMIZATION_r20 `prefixv`, hash-identical, 256 rows): wins 3/4 reps
    // (one wash), 3.12 -> 2.44 s warm.
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

  /** [[prefixFilterPairs]] at corpus scale: exact-dedup-first
    * decomposition with the SAME output contract as the raw form —
    * every pair of docs whose shingle-set Jaccard is ≥ `minJaccard`,
    * with identical columns/values `(a, b, n_a, n_b, n_shared,
    * jaccard_bp)`.
    *
    * Why this exists: on corpora with exact-duplicate families the
    * TRUE all-pairs output is quadratic in family size, and in the raw
    * form every family is one giant prefix-join bucket — the ×1000
    * replicated corpus (100-member mirror families) aborted the raw
    * form at >74 GB of shuffle spill (SCALE.md, r17 prefix-join point)
    * while this decomposition completes. Three legs:
    *
    *  1. exact dedup by normalized text ([[normText]]): equal
    *     normalized text ⇒ identical token sequence (the shingle
    *     tokenizer lowercases and splits on `[a-z0-9]+`, both of which
    *     are normText-invariant) ⇒ identical shingle SET — so the
    *     family relation refines shingle-set equality and collapsing
    *     to one representative per family is lossless;
    *  2. [[prefixFilterPairs]] over representatives only — the PPJoin
    *     machinery (Xiao et al. WWW'08 §3) never sees a duplicate
    *     bucket;
    *  3. closure back over the families: a rep-pair expands to all
    *     member cross pairs (Jaccard depends only on the shingle set,
    *     which is family-invariant), and each family of k ≥ 2 members
    *     with a NON-EMPTY shingle set contributes its C(k,2)
    *     within-family pairs at Jaccard exactly 1 (empty-set families —
    *     docs shorter than `shingleSize` tokens — are excluded, because
    *     the raw form never generates a candidate for a doc with no
    *     prefix tokens).
    *
    * The within-family self-join on `keep_id` is the one
    * output-quadratic step; its volume IS the contract (the pairs
    * exist), and it is a plain sort-merge equi-join that spills rather
    * than OOMs. md5(normText) collisions would merge two distinct-text
    * docs into one family — cryptographically negligible, and the same
    * md5 already underpins [[exactDedup]]'s oracle. Output identity
    * with the raw form (mirror families, case/whitespace variants,
    * sub-shingle-length dup families) is spec-asserted brute-force in
    * PipelineSpec, and the `p_prefix_join_scale` gate replays THIS
    * operator against the raw form's DuckDB SQL. */
  def prefixFilterPairsAtScale(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one corpus shuffle (by text hash) carries doc_id+text; identical
    // exchange subtrees below are deduped by ReuseExchange, not persist
    val fam = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        md5(normText(col(textCol))).as("_th"))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("_th")))
    val repDocs = fam.filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("_text"))
    val repPairs = prefixFilterPairs(
      repDocs, "doc_id", "_text", shingleSize, minJaccard)
    val members = fam.select(col("keep_id"), col("doc_id"))
    // cross-family: member pairs inherit their reps' sizes/overlap;
    // n_a/n_b swap with the (least, greatest) re-orientation
    val cross = repPairs
      .join(members.select(col("keep_id").as("a"), col("doc_id").as("_da")), "a")
      .join(members.select(col("keep_id").as("b"), col("doc_id").as("_db")), "b")
      .select(
        least(col("_da"), col("_db")).as("a"),
        greatest(col("_da"), col("_db")).as("b"),
        when(col("_da") < col("_db"), col("n_a")).otherwise(col("n_b")).as("n_a"),
        when(col("_da") < col("_db"), col("n_b")).otherwise(col("n_a")).as("n_b"),
        col("n_shared"), col("jaccard_bp"))
    val repN = shingles(repDocs, "doc_id", "_text", shingleSize)
      .groupBy("doc_id").agg(count(lit(1)).as("_n"))
      .withColumnRenamed("doc_id", "keep_id")
    val within = members.select(col("keep_id"), col("doc_id").as("_d1"))
      .join(members.select(col("keep_id"), col("doc_id").as("_d2")), "keep_id")
      .filter(col("_d1") < col("_d2"))
      .join(repN, "keep_id") // inner join drops empty-shingle families
      .select(col("_d1").as("a"), col("_d2").as("b"),
        col("_n").as("n_a"), col("_n").as("n_b"), col("_n").as("n_shared"),
        lit(10000L).as("jaccard_bp"))
    cross.unionByName(within)
  }

  /** Per-document LSH band signatures computed locally — the
    * byte-identical Scala twin of the batch
    * `shingles → minhashSignatures → lshBands` pipeline for ONE document
    * (same md5-derived permutation constants, same universal-hash
    * arithmetic, same 60-bit band-sig md5 number over comma-joined
    * perm-ordered minhashes). Zero-shuffle building block for the streaming
    * near-dedup path; docs with fewer than `shingleSize` tokens yield no
    * bands, exactly like the batch explode. Equivalence is spec-asserted
    * against the batch DataFrames. */
  def localBandSigs(text: String, shingleSize: Int, numPerm: Int,
      rowsPerBand: Int): Seq[(Int, Long)] = {
    val toks = "[a-z0-9]+".r.findAllIn(
      Option(text).getOrElse("").toLowerCase).toVector
    if (toks.length < shingleSize) return Seq.empty
    val shs = toks.sliding(shingleSize).map(_.mkString(" ")).toSet
    val (as, bs) = permConsts(numPerm)
    val bases = shs.toSeq.map(s => Math.floorMod(md5num(s + "#0"), MinhashP))
    val minh = (0 until numPerm).map { p =>
      bases.map(h => (as(p) * h + bs(p)) % MinhashP).min
    }
    (0 until numPerm).groupBy(_ / rowsPerBand).toSeq
      .map { case (band, perms) =>
        val sig = perms.sorted.map(minh).mkString(",")
        band -> md5num(sig + "#0")
      }
      .sortBy(_._1)
  }

  /** Cross-document duplicated n-gram share (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": verbatim
    * spans occurring in more than one document are the memorization /
    * boilerplate signal that exact- and near-dedup both miss). Per doc:
    * the fraction of its distinct n-grams that also occur in at least one
    * OTHER document.
    *
    * Scale shape: distinct (doc, gram) explode → gram-keyed count
    * (map-side combined) → co-partitioned join back on gram → per-doc
    * rollup. A stop-gram skews only the probe side of that join (the
    * build row per gram is single), which AQE's skew split absorbs —
    * there is no pair blow-up anywhere, unlike a naive
    * docs-sharing-a-gram self-join. */
  def crossDocNgramShare(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    // unlike the MinHash path (whose md5 arithmetic IS the oracle
    // contract), only gram IDENTITY matters here — shuffle 8-byte
    // xxhash64 of the word tuple instead of materialized gram strings
    // (~3x fewer shuffle bytes; a collision merges two grams' doc
    // counts, negligible below ~10^9 distinct grams)
    // zip-of-slices explode with the hash POST-explode (codegen'd) —
    // the transform(sequence) lambda ran xxhash64 interpreted (NGrams.scala)
    val g = docs
      .select(col(idCol).as("doc_id"),
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)").as("toks"))
      .select(col("doc_id"), explode(NGrams.zipExpr("toks", n)).as("pr"))
      .select(col("doc_id"), xxhash64(NGrams.fields("pr", n): _*).as("sh"))
      .distinct()
    val gd = g.groupBy("sh").agg(count(lit(1)).as("nd"))
    val per = g.join(gd, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared") / col("n_grams"), lit(0.0)), 4)
          .as("dup_span_frac"))
  }

  /** Exact-substring duplicate spans (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * variant, token-granular): every `windowTokens`-token window whose
    * content appears verbatim in at least one OTHER document is flagged,
    * and overlapping/adjacent flagged windows merge into maximal spans —
    * the removable byte ranges ExactSubstr feeds its scrubber.
    *
    * Output: one row per maximal duplicated span —
    * (doc_id, start_pos, end_pos, n_windows) with token-index bounds
    * (end exclusive) and the count of flagged windows the span merged.
    *
    * Scale shape (the reason this beats a suffix array on a cluster):
    * windows shuffle ONCE keyed by gram hash (8-byte xxhash64 of the
    * word tuple — identity only, so the oracle's string grams agree up
    * to 2^-64 collisions); the cross-doc test is a groupBy(gram) count
    * + a co-partitioned semi-join back — strictly linear in corpus
    * size, no self-join: a gram shared by a million docs contributes a
    * million (window → one df row) lookups, never a million² pair
    * product. Span merging is a per-document window function — state
    * bounded by one document's flagged windows. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = windowTokens
    require(L >= 2, s"windowTokens must be >= 2, got $L")
    // posexplode of zipped slices: pos comes from the explode itself and
    // the window hash runs POST-explode, codegen'd (the transform shape
    // evaluated xxhash64 interpreted per window — NGrams.scala)
    // w feeds the cross-doc df rollup AND the semi-join probe with
    // non-identical exchanges — checkpoint so the tokenize + window
    // explode + hash runs once (r19 A/B `dupspans`: wins every rep,
    // ~14% warm, 7.7s->2.6s cold, hash-identical)
    val w = docs
      .select(col(idCol).as("doc_id"),
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)").as("toks"))
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
  }

  /** Apply [[duplicateSpans]]: drop every token covered by a duplicated
    * span and rebuild the surviving token stream (normalized — lowercase,
    * single-space — like ExactSubstr's byte-range cut, but on the token
    * axis the span detector works in).
    *
    * Join shape: tokens equi-join their doc's spans (spans per doc are
    * few and bounded — output of island merging), coverage is decided
    * per token, survivors re-aggregate ordered by position. All keyed by
    * doc_id — one co-partitioned join + one groupBy, no skew surface
    * beyond document length itself. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 15): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, windowTokens)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("spans"))
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)").as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        expr("""CASE WHEN spans IS NULL THEN toks ELSE
            filter(toks, (t, i) ->
              NOT exists(spans, s -> i >= s.start_pos AND i < s.end_pos))
            END""").as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("text_deduped"),
        size(col("kept")).cast("long").as("n_tokens_kept"))
  }

  /** Resolve verified duplicate PAIRS into duplicate GROUPS: connected
    * components over the undirected pair graph, labeled by the minimum
    * doc id of each component, plus the keep/drop decision
    * (`keep = doc_id == cluster_id` — the canonical survivor).
    *
    * This is the step that turns pair emitters ([[minhashDedupPairs]],
    * [[ngramJaccardPairs]], [[Similarity.cosineDedupPairs]]) into an
    * actionable dedup verdict: transitively-linked near-dup families
    * (A~B, B~C but A!~C) collapse to one survivor instead of leaking
    * through pairwise-only filtering.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — the shape GraphFrames' connectedComponents uses).
    * Each round is two groupBy-shuffles on the edge list; the edge set
    * provably converges to per-component stars rooted at the minimum
    * node in O(log n) rounds — no O(diameter) label-propagation chains,
    * which is what makes this safe for 100 TB-scale pair graphs with
    * long thin chains. Each round's edge list is localCheckpoint()ed to
    * truncate the iterative lineage (without it the plan doubles every
    * round and analysis cost explodes by round ~15).
    *
    * `pairs` must have two BIGINT columns `a`, `b`; rows with a == b are
    * ignored. Output: one row per doc in `docs` — (doc_id, cluster_id,
    * keep), singletons labeling themselves. */
  def duplicateClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    var edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // carry the edge count across rounds (r20): the old loop re-counted
    // the PREVIOUS round's checkpointed edge set every round to feed
    // the convergence test — one redundant job per round. Same exact
    // test (count equality short-circuits the except). Interleaved A/B
    // (OPTIMIZATION_r20 `clusters2`, hash-identical, 5000 rows): wins all 4
    // reps, 3.58 -> 3.42 s warm, 6.71 -> 4.96 s cold.
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var it = 0
    while (!converged && it < maxIters) {
      // large-star: key each edge by BOTH endpoints (symmetric
      // neighborhood); every strictly-larger neighbor re-points to the
      // minimum of the neighborhood (including the center)
      val nbrs = edges.select(col("a").as("v"), col("b").as("u"))
        .union(edges.select(col("b").as("v"), col("a").as("u")))
      val mins = nbrs.groupBy("v").agg(least(min("u"), first("v")).as("m"))
      // large feeds TWO consumers (the small-star min aggregate and the
      // re-point join's probe): checkpoint so its groupBy+join+distinct
      // subtree runs once per round, not twice (r20; interleaved A/B
      // `clusters3`, hash-identical: wins 4/4, 4.01 -> 3.72 s warm,
      // 10.8 -> 4.5 s cold through the full p_dedup_groups chain; the
      // leg was retired once this shape became the only one)
      val large = nbrs.join(mins, "v")
        .filter(col("u") > col("v"))
        .select(col("u").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      // small-star: key each edge by its LARGER endpoint only; the
      // center and all its smaller neighbors re-point to the minimum
      val dir = large.select(greatest(col("a"), col("b")).as("v"),
        least(col("a"), col("b")).as("u"))
      val smins = dir.groupBy("v").agg(min("u").as("m"))
      val small = dir.join(smins, "v")
        .select(col("u").as("a"), col("m").as("b"))
        .union(smins.select(col("v").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      // converged when the edge set is stable (stars pointing at roots)
      val smallCount = small.count()
      converged = smallCount == edgeCount && small.except(edges).isEmpty
      edges = small
      edgeCount = smallCount
      it += 1
    }
    require(converged, s"duplicateClusters did not converge in $maxIters rounds")
    // at convergence every edge is (member, root); roots label themselves
    val labels = edges.groupBy(col("a").as("doc_id")).agg(min("b").as("lbl"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** Incremental MinHash-LSH near-dedup: candidate pairs for a NEW batch
    * of documents against an EXISTING corpus plus within the batch —
    * the production ingest shape, where re-running the full self-join
    * over 100 TB of history per arriving batch is not an option.
    *
    * Semantics: identical to running [[minhashDedupPairs]] over
    * `corpus ∪ incoming` and keeping only pairs with at least one
    * endpoint in `incoming` (spec-asserted; doc ids must be disjoint).
    * The bucket cap counts corpus AND incoming occupants, so the skew
    * guard fires exactly as the batch operator would.
    *
    * Scale shape: the corpus side's band signatures are a pure
    * projection of the corpus (in production: computed once at ingest
    * and stored bucketed by (band, band_sig) — signature computation
    * never re-touches history). Per batch the incoming side is small,
    * so the bucket equi-join broadcasts (AQE) or co-partitions against
    * the stored layout; nothing ever shuffles the corpus text. */
  def incrementalDedupPairs(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    val shC = shingles(corpus, idCol, textCol, shingleSize)
    val shN = shingles(incoming, idCol, textCol, shingleSize)
    // each band table feeds THREE consumers with non-identical exchange
    // subtrees (occupancy union, its own semi-join, the cross pair
    // join) — without a barrier the whole shingle->signature->band
    // chain re-derives per consumer (the r19 before-plan read the
    // corpus 20x). localCheckpoint materializes each side once;
    // interleaved A/B (OPTIMIZATION_r19 `incr`, hash-identical): wins warm
    // (~9%) and removes the cold-path recompute cliff (22s -> 6s).
    val bandsC = lshBands(minhashSignatures(shC, numPerm), rowsPerBand)
      .localCheckpoint()
    val bandsN = lshBands(minhashSignatures(shN, numPerm), rowsPerBand)
      .localCheckpoint()
    // bucket cap over TOTAL occupancy (corpus + incoming), as in batch
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
    val newXnew = candidatePairs(nOk, maxBucketSize)
    val pairs = newXold.union(newXnew).distinct()
    jaccardVerify(pairs, shC.union(shN)).filter(col("jaccard") >= minJaccard)
  }

  /** Re-decide [[duplicateClusters]]' survivor by a quality score
    * instead of min id: per cluster keep the highest-scoring member
    * (ties → lowest doc id) — what production pipelines actually do
    * ("of the N near-identical crawls, keep the cleanest one").
    *
    * `clusters`: (doc_id, cluster_id[, ...]); `scores`: (doc_id, score).
    * Scores should be pre-rounded if an oracle replays the ordering —
    * ordering on long float tails is engine-divergence bait.
    *
    * Shape: one co-partitioned join + a per-cluster struct-max
    * aggregation (map-side partial; the struct orders by score then
    * −doc_id, so the argmax IS the agg — no window over the corpus). */
  def clusterSurvivors(clusters: DataFrame, scores: DataFrame): DataFrame = {
    val surv = clusters.select("doc_id", "cluster_id")
      .join(scores.select(col("doc_id"), col("score")), "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("score"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("cluster_id"), (-col("m.negid")).cast("long").as("survivor_id"))
    clusters.select("doc_id", "cluster_id")
      .join(surv, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("keep"))
  }
}
