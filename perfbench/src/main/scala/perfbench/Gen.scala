package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here and depends only on the seed and the sizes, so no engine
  * change can move the inputs; each workload's inputs are summarised by
  * a SHA-256 content hash that the run prints. */
object Gen {

  /** Running SHA-256 over generated values. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def str(s: String): Unit = { long(s.length.toLong); md.update(s.getBytes("UTF-8")) }
    def floats(v: Array[Float]): Unit = v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  private val Syllables: IndexedSeq[String] =
    for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Fixed pseudo-word vocabulary: word `i` spells `i` in base-70
    * consonant-vowel syllables (at least two), so distinct `i` give
    * distinct lowercase alphabetic words. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var n = 0
    while (n < 2 || x > 0) { sb ++= Syllables(x % 70); x /= 70; n += 1 }
    sb.toString
  }

  /** Zipf(1) sampler over ranks 0 until n. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Multi-vector clusters over a shared pool of token prototypes, the
    * way real token embeddings concentrate around a few thousand
    * directions: cluster `c` fixes one prototype per token slot, and a
    * member is each slot's prototype plus isotropic noise, normalised.
    * Clusters share prototypes, so a query's neighbourhood spans
    * several clusters. */
  final class Clusters(seed: Long, val n: Int, tokens: Int, dim: Int, prototypes: Int,
      noise: Double) {
    private val (protos, slots) = {
      val r = new SplittableRandom(seed ^ 0x5eedc1L)
      (Array.fill(prototypes, dim)(gaussian(r)), Array.fill(n, tokens)(r.nextInt(prototypes)))
    }
    def member(c: Int, r: SplittableRandom): Array[Array[Float]] =
      slots(c).map(p => unit(protos(p).map(x => x + noise * gaussian(r))))
  }

  // ---------------------------------------------------------------- serve

  final case class Doc(key: String, emb: Array[Array[Float]], category: String,
      year: Int, title: String, text: String) {
    def json: String =
      s"""{"key":"$key","category":"$category","year":$year,"title":"$title","text":"$text"}"""
    /** Lowercase words of the FTS text (every metadata value). */
    def terms: Set[String] = (s"$key $category $year $title $text").split(" ").toSet
  }

  sealed trait Request
  final case class Semantic(emb: Array[Array[Float]]) extends Request
  final case class Filtered(emb: Array[Array[Float]], column: String, value: Either[String, Int])
      extends Request
  final case class Keyword(term: String) extends Request
  final case class HybridReq(emb: Array[Array[Float]], term: String) extends Request

  /** One write cycle: docs to add, then the positions (in live-id
    * order, counted after the add) of the docs to delete. */
  final case class Cycle(adds: IndexedSeq[Doc], deletePositions: IndexedSeq[Int])

  final case class ServeInputs(docs: IndexedSeq[Doc], requests: IndexedSeq[Request],
      ndcgQueries: IndexedSeq[Array[Array[Float]]], batch: IndexedSeq[Array[Array[Float]]],
      cycles: IndexedSeq[Cycle], sha256: String)

  val Categories: IndexedSeq[String] = IndexedSeq("c0", "c1", "c2")
  val Years: IndexedSeq[Int] = 2010 until 2020
  val VocabSize = 3000
  /** One cycle of the serve request mix: 20 semantic requests, and one
    * each of filtered by category (~1/3 of the docs), filtered by year
    * (~1/10), keyword and hybrid. No measured traffic gives these
    * shares, so they are unverified. Semantic requests dominate because
    * the reference's headline serving benchmark (SciFact QPS and P95)
    * sends only semantic requests; each other kind comes once a cycle so
    * that every layer runs in every cycle. */
  val RequestMix: IndexedSeq[String] = {
    val sem = IndexedSeq.fill(5)("semantic")
    Seq("hybrid", "filtered-category", "keyword", "filtered-year").flatMap(k => k +: sem).toIndexedSeq
  }

  def serve(seed: Long, nDocs: Int, tokens: Int, dim: Int, nClusters: Int, prototypes: Int,
      noise: Double, nRequests: Int, nNdcg: Int, nBatch: Int, nCycles: Int,
      addPerCycle: Int, deletePerCycle: Int): ServeInputs = {
    val clusters = new Clusters(seed, nClusters, tokens, dim, prototypes, noise)
    val zipf = new Zipf(VocabSize)
    val r = new SplittableRandom(seed)
    def words(k: Int) = Seq.fill(k)(word(zipf.sample(r))).mkString(" ")
    var nextKey = 0
    def doc(): Doc = {
      val d = Doc(f"k$seed%d-$nextKey%06d", clusters.member(r.nextInt(nClusters), r),
        Categories(r.nextInt(Categories.size)), Years(r.nextInt(Years.size)), words(5), words(20))
      nextKey += 1
      d
    }
    val docs = IndexedSeq.fill(nDocs)(doc())
    // keyword terms: words in 0.5%..5% of the docs, so every keyword
    // request has hits and none matches most of the corpus
    val df = docs.flatMap(_.terms.filter(_.head.isLetter).filter(_.length > 3)).groupBy(identity)
      .map { case (w, occ) => w -> occ.size }
    val terms = df.filter { case (_, c) => c >= nDocs / 200 && c <= nDocs / 20 }.keys.toIndexedSeq.sorted
    require(terms.nonEmpty, "no keyword terms in range")
    def query() = clusters.member(r.nextInt(nClusters), r)
    val requests = (0 until nRequests).map { i =>
      RequestMix(i % RequestMix.size) match {
        case "semantic" => Semantic(query())
        case "filtered-category" =>
          Filtered(query(), "category", Left(Categories(r.nextInt(Categories.size))))
        case "filtered-year" => Filtered(query(), "year", Right(Years(r.nextInt(Years.size))))
        case "keyword" => Keyword(terms(r.nextInt(terms.size)))
        case _ => HybridReq(query(), terms(r.nextInt(terms.size)))
      }
    }
    val ndcg = IndexedSeq.fill(nNdcg)(query())
    val batch = IndexedSeq.fill(nBatch)(query())
    var live = nDocs
    val cycles = IndexedSeq.fill(nCycles) {
      val adds = IndexedSeq.fill(addPerCycle)(doc())
      live += addPerCycle
      val del = r.ints(0, live).distinct().limit(deletePerCycle.toLong).toArray.toIndexedSeq.sorted
      live -= deletePerCycle
      Cycle(adds, del)
    }
    val d = new Digest
    (docs ++ cycles.flatMap(_.adds)).foreach { doc => d.str(doc.json); doc.emb.foreach(d.floats) }
    requests.foreach {
      case Semantic(e) => d.str("s"); e.foreach(d.floats)
      case Filtered(e, c, v) => d.str(s"f$c$v"); e.foreach(d.floats)
      case Keyword(t) => d.str(s"k$t")
      case HybridReq(e, t) => d.str(s"h$t"); e.foreach(d.floats)
    }
    (ndcg ++ batch).foreach(_.foreach(d.floats))
    cycles.foreach(_.deletePositions.foreach(p => d.long(p.toLong)))
    ServeInputs(docs, requests, ndcg, batch, cycles, d.hex)
  }

  // ---------------------------------------------------------------- dedup

  final case class DedupInputs(
      texts: IndexedSeq[String],
      /** ids of planted exact copies (each family's smallest id is its original) */
      exactCopies: Set[Long],
      /** planted near-duplicate text families (doc ids) */
      nearFamilies: IndexedSeq[IndexedSeq[Long]],
      vectors: IndexedSeq[Array[Float]],
      /** planted near-duplicate vector families (vec ids) */
      vecFamilies: IndexedSeq[IndexedSeq[Long]],
      sha256: String)

  val DedupVocab = 20000

  /** Background docs draw `words` words uniformly from a large
    * vocabulary, so unrelated docs share almost no 3-shingles. An exact
    * family is an original plus copies differing only in case and
    * spacing; a near family is a base plus variants that each replace
    * one word of the base (pairwise 3-shingle Jaccard >= 0.8). Vector
    * families are a random unit vector plus copies at cosine ~0.99;
    * background vectors are independent. Docs and vectors are shuffled
    * so families do not sit on adjacent ids. */
  def dedup(seed: Long, nTexts: Int, words: Int, nExact: Int, nNear: Int, nearSize: Int,
      nVectors: Int, dim: Int, nVecFamilies: Int, vecFamilySize: Int): DedupInputs = {
    val r = new SplittableRandom(seed)
    def text() = IndexedSeq.fill(words)(word(r.nextInt(DedupVocab)))
    // slots: (family kind, family index) per planted doc, then background
    val exactFam = (0 until nExact).map(f => 2 + r.nextInt(2)) // original + 1..2 copies
    val planted = exactFam.sum + nNear * nearSize
    require(planted < nTexts, "more planted docs than texts")
    val order = shuffled(r, nTexts)
    val texts = new Array[String](nTexts)
    var slot = 0
    def take(): Int = { val id = order(slot); slot += 1; id }
    val exactCopies = exactFam.flatMap { n =>
      val words0 = text()
      val ids = IndexedSeq.fill(n)(take()).sorted
      texts(ids.head) = words0.mkString(" ")
      ids.tail.foreach(id => texts(id) = "  " + words0.map(w => if (r.nextBoolean()) w.toUpperCase else w).mkString("   ") + " ")
      ids.tail.map(_.toLong)
    }.toSet
    val nearFamilies = IndexedSeq.fill(nNear) {
      val base = text()
      val positions = shuffled(r, words).take(nearSize - 1)
      val ids = IndexedSeq.fill(nearSize)(take())
      texts(ids.head) = base.mkString(" ")
      ids.tail.zip(positions).foreach { case (id, p) =>
        texts(id) = base.updated(p, word(DedupVocab + r.nextInt(DedupVocab))).mkString(" ")
      }
      ids.map(_.toLong).sorted
    }
    while (slot < nTexts) texts(take()) = text().mkString(" ")

    val vorder = shuffled(r, nVectors)
    val vectors = new Array[Array[Float]](nVectors)
    var vslot = 0
    val vecFamilies = IndexedSeq.fill(nVecFamilies) {
      val base = Array.fill(dim)(gaussian(r))
      val ids = IndexedSeq.fill(vecFamilySize) { val id = vorder(vslot); vslot += 1; id }
      ids.foreach(id => vectors(id) = unit(base.map(x => x + 0.08 * gaussian(r))))
      ids.map(_.toLong).sorted
    }
    while (vslot < nVectors) { vectors(vorder(vslot)) = unit(Array.fill(dim)(gaussian(r))); vslot += 1 }

    val d = new Digest
    texts.foreach(d.str)
    vectors.foreach(d.floats)
    DedupInputs(texts.toIndexedSeq, exactCopies, nearFamilies, vectors.toIndexedSeq, vecFamilies, d.hex)
  }

  private def shuffled(r: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }
}
